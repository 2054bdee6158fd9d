package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional arg 3: comma-separated query-name subset — the fast
    // path for oracle-regeneration loops (the driver passes two args
    // and always dumps everything)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // pick the golden-fixture set matching THIS scale factor (the bt/opt
    // oracles read reference-run parquet minted per SF by
    // scripts/gen_bt_goldens.py). Must happen before anything touches
    // Goldens.dir (it is resolved once per JVM); an explicit
    // -Dgraft.goldens.dir / $GRAFT_GOLDENS_DIR still wins.
    if (sys.props.get("graft.goldens.dir").isEmpty &&
        sys.env.get("GRAFT_GOLDENS_DIR").isEmpty) {
      val sfName = new java.io.File(sfDir).getName
      val cand = new java.io.File(s"src/test/resources/goldens/$sfName")
      if (cand.isDirectory)
        System.setProperty("graft.goldens.dir", cand.getAbsolutePath)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.ops.ScratchDir.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // vacuity guard (r12 verdict #8): an all-green-but-EMPTY result row
    // hash-matches a trivially-empty oracle and proves nothing — six such
    // rows survived rounds 8-12 unnoticed. Count each dump (reading back
    // the coalesced result parquet is result-sized, not corpus-sized) and
    // warn loudly so an empty gate row can never again look healthy.
    val empty = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (spark.read.parquet(s"$outDir/$name").isEmpty) {
          empty += name
          System.err.println(s"[verify] WARNING: $name wrote 0 rows — " +
            "the oracle compare on this query is VACUOUS")
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (empty.nonEmpty)
      System.err.println(
        s"[verify] VACUOUS RESULTS (${empty.size}): ${empty.sorted.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
