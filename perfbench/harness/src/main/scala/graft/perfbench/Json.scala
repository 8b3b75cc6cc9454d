package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON for the harness: read the benchmark config with the
 *  Jackson that ships with Spark, and write records as plain strings. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  def str(s: String): String = mapper.writeValueAsString(s)

  /** Numbers, strings, booleans, Options, Iterables and Maps. */
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def save(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), write(v))
}
