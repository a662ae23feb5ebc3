package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** State-management I/O over the Hadoop `FileSystem` API.
  *
  * Snapshots and the incremental-linkage delta state previously listed,
  * renamed, and deleted through `java.io.File`/`java.nio.Files` — fine on
  * `local[32]`, dead on the multi-executor cluster the north rule targets
  * (spark-submit at N and 4N executors), where state lives on HDFS/S3. The
  * parquet payloads were always FS-agnostic (Spark readers/writers); this
  * moves the remaining metadata layer (listing, atomic manifest publish,
  * recursive delete) onto the same abstraction, so a state root of
  * `hdfs://…`, `s3a://…`, or a bare local path all behave identically.
  *
  * Commit protocol note: the one commit protocol of both state layers
  * ([[Snapshots]] and `streaming.PersistedDeltas`) is data first, then a
  * manifest published LAST by `publish` = write to a `.tmp` sibling + rename
  * to a fresh name. On HDFS and local file systems rename is atomic; on S3A
  * it is a copy+delete, where the convention still holds (a reader sees
  * either no manifest or a complete one — the content is written before the
  * rename starts, and readers never parse `.tmp` names). That is exactly
  * Iceberg's own commit seam, which swaps in a metastore/catalog swap for
  * object stores.
  */
object StateFs {

  /** Hadoop conf from the active session when there is one (so `fs.*`
    * settings and credentials apply), else a vanilla Configuration.
    * Memoized per session: `newHadoopConf` clones the full SparkConf, and
    * the listing helpers call in here several times per batch/snapshot —
    * re-cloning per call is pure overhead. Weak keys: the Configuration
    * value holds no reference back to its session, so entries vanish with
    * the session instead of pinning it. */
  // TTL'd so FileSystem instances created AFTER a runtime conf change (e.g.
  // refreshed object-store credentials set via spark.conf.set) see the new
  // values within a minute while the tight listing loops still hit the
  // cache. Note the limit: Path.getFileSystem returns Hadoop's cached FS
  // keyed by scheme/authority/UGI, built with the FIRST conf it saw — a
  // fresh Configuration does not reconfigure that cached instance. Where
  // credential rotation genuinely matters, set
  // `fs.<scheme>.impl.disable.cache=true` (or use FileSystem.newInstance)
  // so each conf refresh yields a freshly configured FS.
  private val ConfTtlNanos = 60L * 1000 * 1000 * 1000
  private val confCache =
    new java.util.WeakHashMap[SparkSession, (Configuration, Long)]()
  private lazy val fallbackConf = new Configuration()
  private def conf: Configuration =
    SparkSession.getActiveSession match {
      case Some(s) => confCache.synchronized {
        val now = System.nanoTime()
        confCache.get(s) match {
          case (c, born) if now - born < ConfTtlNanos => c
          case _ =>
            val c = s.sessionState.newHadoopConf()
            confCache.put(s, (c, now)); c
        }
      }
      case None => fallbackConf
    }

  /** Canonical `prefix<digits>` suffix parse, shared by every state layer:
    * non-empty, all digits, no leading zeros (the engine only ever writes
    * unpadded decimals — "snap=007" etc. is alien debris, ignored, never
    * parsed: a `.toLong` throw here would permanently block every restart),
    * and within Long range. */
  def numericSuffix(name: String, prefix: String): Option[Long] = {
    val s = name.stripPrefix(prefix)
    if (name.startsWith(prefix) && s.nonEmpty && s.forall(_.isDigit) &&
        (s == "0" || !s.startsWith("0")))
      scala.util.Try(s.toLong).toOption
    else None
  }

  def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(dir: String, name: String): Boolean = {
    val p = new Path(dir, name)
    fs(p).exists(p)
  }

  /** Child names of `dir` (not paths); empty when the dir doesn't exist. */
  def listNames(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toIndexedSeq.map(_.getPath.getName)
  }

  def mkdirs(dir: String): Unit = {
    val p = new Path(dir)
    fs(p).mkdirs(p)
  }

  def readBytes(dir: String, name: String): Array[Byte] = {
    val p = new Path(dir, name)
    val f = fs(p)
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Publish a small file under a fresh name: write `<name>.tmp`, then
    * rename it to `name` with a plain `FileSystem.rename`. That is atomic on
    * HDFS and local file systems, and starts no child process on a local
    * file system without native Hadoop. Every commit publishes a manifest
    * into a dir no commit has published into before, and a committed file is
    * never rewritten: publishing over an existing name throws an
    * `IOException` naming it (as HDFS's rename refuses to overwrite a file a
    * racer published first). A crash before the rename leaves only an
    * ignorable `.tmp`. */
  def publish(dir: String, name: String, bytes: Array[Byte]): Unit = {
    val tmp = new Path(dir, name + ".tmp")
    val dst = new Path(dir, name)
    val f = fs(dst)
    if (f.exists(dst))
      throw new java.io.IOException(s"publish: $dst exists, and a published file is never rewritten")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  def deleteRecursive(dir: String, name: String): Unit = {
    val p = new Path(dir, name)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }
}
