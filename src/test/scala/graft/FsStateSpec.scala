package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Linkage
import graft.plans.{Resumable, Snapshots, StateFs}
import graft.sources.Pages
import graft.streaming.IncrementalLinkage

/** State management against an explicit `file:` Hadoop FileSystem URI.
  *
  * The round-3 state layer listed/renamed/deleted via `java.io.File`, which
  * silently treats a URI-form root (`file:/tmp/x` — or `hdfs://…` on the
  * cluster the north rule targets) as a relative local path and finds
  * nothing. Every assertion here runs with a URI root, so it fails on any
  * regression back to local-path-only I/O; the pre-existing bare-path suites
  * (SnapshotStreamingSpec) keep covering the local form.
  */
class FsStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A temp dir addressed as a `file:` URI — java.io.File can't list this. */
  def fileUri(prefix: String): String =
    "file:" + Files.createTempDirectory(prefix).toString

  def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("snapshots: commit, latest, resume, metrics — all over a file: URI root") {
    val root = fileUri("fs-snap")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")

    val s0 = Snapshots.commit(df, root, "stage1", "fp1")
    assert(s0 == 0)
    assert(Snapshots.committedSnaps(root, "stage1") == Seq(0))
    assert(Snapshots.latest(root, "stage1", "fp1").contains(0))
    assert(Snapshots.latest(root, "stage1", "other").isEmpty)
    val m = Snapshots.readManifest(root, "stage1", 0)
    assert(m.rows == 2 && m.fingerprint == "fp1" && m.parent == -1)
    assert(spark.read.parquet(Snapshots.dataPath(root, "stage1", 0)).count() == 2)

    // Resumable.stage short-circuits the second run to the committed read
    var computes = 0
    def run() = Resumable.stage(spark, root, "stage2", "fpX") { computes += 1; df }
    run(); val r2 = run()
    assert(computes == 1, "second run recomputed a committed stage")
    assert(r2.count() == 2)
    assert(Snapshots.metrics(spark, root).count() == 1)
    assert(Snapshots.lineage(spark, root).count() >= 1)

    // crash between data write and manifest publish: a snap dir with only a
    // .tmp manifest is NOT committed and never parsed
    val fs = StateFs.fs(new HPath(root))
    val snap7 = new HPath(root, "stage1/snap=7")
    fs.mkdirs(snap7)
    val out = fs.create(new HPath(snap7, "manifest.json.tmp"), true)
    out.write("{\"broken".getBytes); out.close()
    assert(Snapshots.committedSnaps(root, "stage1") == Seq(0))
    // stray non-numeric snap dirs (crash debris, fat-fingered tooling) are
    // ignored, never parsed — an unguarded .toInt here would permanently
    // block every commit/resume on the stage
    fs.mkdirs(new HPath(root, "stage1/snap="))
    val out2 = fs.create(new HPath(root, "stage1/snap=/manifest.json"), true)
    out2.write("{}".getBytes); out2.close()
    fs.mkdirs(new HPath(root, "stage1/snap=99999999999/x"))
    assert(Snapshots.committedSnaps(root, "stage1") == Seq(0))
    // and the next commit skips past the uncommitted dir id
    val s8 = Snapshots.commit(df, root, "stage1", "fp2")
    assert(s8 == 1 && Snapshots.latest(root, "stage1", "fp2").contains(1))
  }

  test("snapshots: earlier-format manifests resume; they and crash debris add no metrics or lineage") {
    val root = fileUri("fs-compat")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    // a snapshot whose manifest has the earlier format: no files, seconds or schema
    val snap0 = new HPath(root, "stage1/snap=0").toString
    df.write.parquet(new HPath(snap0, "data").toString)
    StateFs.publish(snap0, "manifest.json",
      """{"stage": "stage1", "snap": 0, "fingerprint": "fp1",
        | "rows": 2, "codeVersion": "graft-v1",
        | "parent": -1}""".stripMargin.getBytes(StandardCharsets.UTF_8))
    assert(Snapshots.latest(root, "stage1", "fp1").contains(0))
    val m = Snapshots.readManifest(root, "stage1", 0)
    assert(m == Snapshots.Manifest("stage1", 0, "fp1", 2, "graft-v1", -1, None, Nil, None))
    val resumed = Resumable.stage(spark, root, "stage1", "fp1")(fail("recomputed"))
    assert(resumed.count() == 2)

    // a committed stage whose manifest never left its .tmp name (a crash
    // before the publish rename): data present, manifest content complete
    Resumable.stage(spark, root, "stage2", "fp2")(df)
    val fs = StateFs.fs(new HPath(root))
    val snap2 = new HPath(root, "stage2/snap=0")
    assert(fs.rename(new HPath(snap2, "manifest.json"), new HPath(snap2, "manifest.json.tmp")))
    assert(fs.exists(new HPath(snap2, "data")))
    assert(Snapshots.committedSnaps(root, "stage2").isEmpty)

    assert(Snapshots.metrics(spark, root).count() == 0)
    assert(Snapshots.lineage(spark, root).count() == 0)
  }

  test("StateFs primitives: publish is tmp+rename, recursive delete works on URIs") {
    val dir = fileUri("fs-prim")
    StateFs.mkdirs(dir)
    StateFs.publish(dir, "marker_1", Array.empty[Byte])
    assert(StateFs.exists(dir, "marker_1"))
    assert(!StateFs.exists(dir, "marker_1.tmp"), "tmp survived the publish rename")
    assert(StateFs.listNames(dir).contains("marker_1"))
    // a published file is never rewritten: publishing over it throws,
    // naming the file, and leaves it as it was
    val e = intercept[java.io.IOException](StateFs.publish(dir, "marker_1", "v2".getBytes))
    assert(e.getMessage.contains("marker_1"), e.getMessage)
    assert(StateFs.readBytes(dir, "marker_1").isEmpty)
    // nested dir: delete recursively
    StateFs.mkdirs(s"$dir/a/b")
    StateFs.publish(s"$dir/a/b", "f", "x".getBytes)
    assert(StateFs.exists(dir, "a/b/f"))
    StateFs.deleteRecursive(dir, "a")
    assert(!StateFs.exists(dir, "a"))
    // listing a non-existent dir is empty, not an error
    assert(StateFs.listNames(s"$dir/nope").isEmpty)
  }

  test("StateFs.publish to a fresh name: exact bytes, no .tmp or checksum of it, URI and plain path") {
    val bytes = "{\"rows\": 3}\n".getBytes(StandardCharsets.UTF_8)
    Seq(fileUri("fs-fresh-uri"), tmpDir("fs-fresh-path")).foreach { dir =>
      assert(!StateFs.exists(dir, "manifest.json"))
      StateFs.publish(dir, "manifest.json", bytes)
      assert(StateFs.readBytes(dir, "manifest.json").sameElements(bytes), dir)
      // the Hadoop listing hides checksum files; list the local dir itself
      val local = java.nio.file.Paths.get(new HPath(dir).toUri.getPath)
      val names = scala.util.Using.resource(Files.list(local))(
        _.iterator().asScala.map(_.getFileName.toString).toList)
      assert(names.contains("manifest.json"), s"$dir: $names")
      assert(!names.exists(_.contains(".tmp")), s"$dir: tmp left after publish: $names")
    }
  }

  test("incremental linkage: deltas, compaction, GC and state load over file: URIs") {
    val inDir = tmpDir("fs-inc-in") // stream input (bare path; state is the URI side)
    val stateDir = fileUri("fs-inc-state")
    val ckpt = fileUri("fs-inc-ckpt")
    val all = Pages.synthesize(spark, 450).toDF().persist()
    val parts = Seq(
      all.filter(Pages.goldEntityId(col("url")) < 50),
      all.filter(Pages.goldEntityId(col("url")) >= 50 && Pages.goldEntityId(col("url")) < 100),
      all.filter(Pages.goldEntityId(col("url")) >= 100))

    parts.foreach { p =>
      p.write.mode("append").parquet(inDir)
      IncrementalLinkage.run(spark, inDir, stateDir, ckpt, compactEvery = 2)
        .awaitTermination()
    }
    // the base batch's own delta is folded into its compaction base and GC'd
    assert(IncrementalLinkage.committedBatches(stateDir) == Seq(2L))
    assert(IncrementalLinkage.compactions(stateDir) == Seq(1L))
    // GC removed batch 0's superseded deltas — via the FileSystem API
    assert(!StateFs.exists(stateDir, "batch=0"),
      "superseded delta not garbage-collected on the URI root")

    val inc = IncrementalLinkage.loadScoredState(spark, stateDir)
      .select("url_a", "url_b", "score", "is_match")
    val full = Linkage.scored(Linkage.prepare(all))
      .select("url_a", "url_b", "score", "is_match")
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "URI-rooted state diverged from full recompute")
    all.unpersist()
  }
}
