package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result digest: every row is rendered canonically
  * (columns sorted by name, doubles in their shortest round-trip form,
  * binary as hex, timestamps as epoch microseconds), the rendered rows
  * are sorted, and the sorted list is hashed together with the column
  * names. Two results digest equal exactly when they hold the same
  * multiset of rows.
  */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp =>
      s"ts${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case d: java.sql.Date => s"d${d.toLocalDate}"
    case bd: java.math.BigDecimal => bd.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** (hex digest, row count) of a result frame. */
  def of(df: DataFrame): (String, Long) = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val rows = df.collect().map(r => order.map(i => canon(r.get(i))).mkString("␟"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString(",").getBytes(UTF_8))
    rows.foreach { r =>
      val b = r.getBytes(UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    (md.digest().map(x => f"$x%02x").mkString, rows.length.toLong)
  }

  /** Pinned digests: `name<TAB>digest<TAB>rows` per line. */
  def load(path: String): Map[String, (String, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, d, r) = l.split("\t")
      n -> (d, r.toLong)
    }.toMap
    finally src.close()
  }
}

/** Pins the suite digests from a `graft.Verify` dump (one parquet
  * directory per query) after the dump has passed the oracle compare:
  * `Pin <dumpDir> <out.tsv>`.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Main.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val lines = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (d, n) = Digest.of(spark.read.parquet(s"$dump/$name"))
      s"$name\t$d\t$n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("# query\tsha256 of sorted canonical rows\trows\n", "\n", "\n"))
    spark.stop()
  }
}
