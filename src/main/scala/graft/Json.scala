package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer for every artifact: the Bench lines, Verify's
  * `oracle_sql.json` / `attempted.json` / `errors.json`, the plan-shape
  * stamp, ReferenceAls's result line and q104's JSONL staging. Jackson
  * escapes every string, so env-controlled paths, oracle SQL and
  * exception text cannot corrupt a line. A map is written in its
  * iteration order: pass a `ListMap` wherever key order is part of the
  * artifact. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One compact JSON value, no trailing newline. */
  def write(value: Any): String = mapper.writeValueAsString(value)

  /** `v` rounded half-up to `places` decimals, written as a plain
    * number with exactly that many digits whatever the default locale. */
  def decimal(v: Double, places: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(places, java.math.RoundingMode.HALF_UP)
}
