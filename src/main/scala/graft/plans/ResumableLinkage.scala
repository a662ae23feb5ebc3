package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Linkage
import graft.sources.Gazetteer

/** The linkage pipeline with per-stage snapshot commits: each heavy stage
  * (prepare, score, cluster, entities) publishes a versioned snapshot whose
  * manifest carries its metrics and file lineage; a rerun with the same
  * input fingerprint resumes from the last committed stage instead of
  * recomputing (north-rule resumability). The stages are the same [[Linkage]] steps as
  * [[Linkage.entities]] — clustering is the one-shuffle per-block union-find
  * ([[Linkage.components]]) over the committed scored pairs — so the
  * committed entities equal the in-memory pipeline's row for row. */
object ResumableLinkage {

  /** Input fingerprint: identifies (pages source, config, code version) —
    * stages re-run iff any of these change. EVERY Config field participates:
    * a resume under a different phonetic family or extraction pattern must
    * invalidate committed stages, because block keys / candidate pairs /
    * extracted spans were all computed under the old value (round-3 ADVICE —
    * the phonetic field silently matched the old fingerprint). The free-text
    * regex is md5'd so the fingerprint stays a clean one-liner in manifests. */
  def fingerprint(pagesId: String, cfg: Linkage.Config): String = {
    val patHash = java.security.MessageDigest.getInstance("MD5")
      .digest(cfg.extractPattern.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
    s"$pagesId|t=${cfg.threshold}|mb=${cfg.maxBlock}|ph=${cfg.phonetic}" +
      s"|re=$patHash|${Snapshots.CodeVersion}"
  }

  def run(spark: SparkSession, pages: DataFrame, pagesId: String, root: String,
          bIdx: Broadcast[Gazetteer.Index],
          cfg: Linkage.Config = Linkage.Config()): DataFrame =
    Snapshots.read(spark, root, runCommitted(spark, pages, pagesId, root, bIdx, cfg))

  /** [[run]], returning the committed entities stage's manifest instead of
    * its data: its `rows` is the entity row count, so a caller that needs
    * only the count reads it without a Spark job. */
  private[graft] def runCommitted(spark: SparkSession, pages: DataFrame, pagesId: String,
                                  root: String, bIdx: Broadcast[Gazetteer.Index],
                                  cfg: Linkage.Config = Linkage.Config()): Snapshots.Manifest = {
    val fp = fingerprint(pagesId, cfg)

    val prepared = Resumable.stage(spark, root, "prepared", fp) {
      Linkage.prepare(pages, cfg)
    }
    val scored = Resumable.stage(spark, root, "scored", fp) {
      Linkage.scored(prepared, cfg)
    }
    val comps = Resumable.stage(spark, root, "components", fp) {
      Linkage.components(scored)
    }
    Resumable.committed(root, "entities", fp) {
      Linkage.attachEntities(prepared, comps, bIdx)
    }
  }
}
