package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for the engine's mains (Verify, Bench,
  * PlanDump, Probe, ScaleRehearsal), the benchmark harness and the
  * test session — one place for the conventions every session needs:
  * shuffle partitions sized to cores (not the 200 default), UTC, UI
  * off, and `file:` served by [[NioLocalFileSystem]] and [[NioLocalFs]]
  * (the `FileContext` side that streaming checkpoints and state stores
  * write through). Without libhadoop, Hadoop's own local filesystem
  * starts a `chmod`, `ls` or `readlink` process per permission or
  * link-status call; these two make the same calls through
  * `java.nio.file`, with the same permissions, `.crc` checksums and
  * symlinks. Hadoop caches `FileSystem`s per scheme for the JVM, so
  * the session must be built before anything else opens `file:`. */
object Sessions {
  def localBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  /** Run `body` with `confs` set on the session, then put every key
    * back the way the caller had it — re-set to its old value if the
    * caller had set it, unset otherwise — whether `body` returns or
    * throws. The old values come from `getAll` (explicitly set keys
    * only): `conf.getOption` returns a key's registered default, and
    * restoring that would leave the key explicitly set. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      prev.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
