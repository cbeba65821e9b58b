package perfbench

import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

/** JSON in and out of the harness, via the json4s that Spark ships.
  * Parsed integers come back as `BigInt`, which compares equal to the
  * `Long` counts Spark returns.
  */
object Json {
  def render(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  def parse(s: String): Any = JsonMethods.parse(s).values

  def long(v: Any): Long = v match {
    case b: BigInt => b.toLong
    case n: Number => n.longValue
  }
}
