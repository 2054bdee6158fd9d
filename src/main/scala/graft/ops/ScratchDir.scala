package graft.ops

/** Shuffle/scratch-device selection for the session builders.
  *
  * Measured (r17, HotFrames sampler on mm_gif89a_frames at local[32]):
  * executor threads spent the bulk of their RUNNABLE time in
  * `FileOutputStream.open0` / `FileChannelImpl.map0/unmap0` /
  * `UnixFileSystem.delete0` on shuffle part files, and BLOCKED in
  * `IndexShuffleBlockResolver.writeMetadataFileAndCommit` — shuffle
  * scratch I/O on the sandbox's ext4 root device, not compute, was
  * the 32-way wall (per-task run time inflated ~8× between 16 and 32
  * concurrent tasks; moving scratch to tmpfs cut ts_pii_redact
  * 0.65→0.31 s and mm_jpeg_decode 0.65→0.33 s at identical plans).
  *
  * A production deployment puts `spark.local.dir` on local NVMe; here
  * the choice is OPT-IN, because tmpfs scratch is not a safe default:
  * it spends RAM on shuffle files and, on a 32-core host, it made the
  * codec rows 12-22x slower than the disk default. Selection order:
  *
  *  1. `$SPARK_GRAFT_LOCAL_DIR` — explicit override, used verbatim
  *     (e.g. a tmpfs path for small-shuffle runs, a disk-backed path
  *     for runs whose shuffle exceeds memory);
  *  2. none — Spark's own default (java.io.tmpdir).
  */
object ScratchDir {
  def resolve(): Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim).filter(_.nonEmpty)

  /** Apply to a session builder: sets spark.local.dir when the override
    * is set, no-op otherwise.
    */
  def tune(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    resolve().map(d => b.config("spark.local.dir", d)).getOrElse(b)
}
