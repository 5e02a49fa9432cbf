package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** An order-free digest of a query result, for golden comparisons: the
  * schema (names and types), the row count and the SHA-256 over the sorted
  * per-row renderings. Row order and partitioning are left out; every value
  * counts exactly, so a double that moves in its last bit changes the
  * digest.
  */
object RowDigest {

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }
        .sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** One line: `rows=<n> schema=<ddl> sha256=<hex>`. */
  def of(df: DataFrame): String = {
    val rows = df.collect().map(r => render(r)).sorted
    s"rows=${rows.length} schema=${df.schema.toDDL} " +
      s"sha256=${sha(rows.mkString("\n"))}"
  }
}
