package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by Verify, Bench and tests.
  *
  * - shuffle.partitions sized to local cores (not the 200 default);
  * - AQE on (runtime coalescing + skew-join handling — the knobs we rely
  *   on at cluster scale);
  * - parquet TIMESTAMP(NANOS) (events.ts) read as long, converted at load
  *   by [[Tables.events]];
  * - UTC session timezone for oracle parity;
  * - Hadoop's `file:` filesystem replaced, through both the `FileSystem`
  *   and the `FileContext` API, by [[graft.fs.ForkFreeLocalFileSystem]]
  *   and [[graft.fs.ForkFreeLocalFs]]: without `libhadoop.so` the stock
  *   classes fork `chmod` on every create and mkdir and `readlink` on every
  *   rename, about 30 ms per streaming offset-log or commit-log write. Same
  *   files, checksums and commit protocol; Spark's default checkpoint
  *   manager still does the writing.
  */
object GraftSession {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      // native vector functions (dot_product / vec_norm / cosine_sim)
      // available to plain SQL in every session
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.mergeSchema", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.ForkFreeLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
