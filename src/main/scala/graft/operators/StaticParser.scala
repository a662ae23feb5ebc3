package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.TrText
import graft.sources.Gazetteer

/** Gazetteer-constrained hierarchical address parser, re-expressed Spark-first.
  *
  * Reference semantics (src/address_matching/parsing/static_parser.py):
  *  - P1 tokenize the static-normalized text, keeping ALL tokens (lines 59-61);
  *  - P3 `_best_match`: scan every start position, test exact token-window
  *    equality against a first-token inverted index, rank by
  *    `(window_len, -start_pos)` — longest match, then earliest (120-147);
  *  - P4 hierarchy: province (unrestricted) → district (restricted to that
  *    province) → province inferred as *first* province containing the
  *    district when missing → neighbourhood restricted to (p,d) or the
  *    district-union (58-97).
  *
  * The per-row search is sequential by construction (each stage's restriction
  * set depends on the previous stage's winner), so it is a `mapPartitions`
  * kernel over a broadcast [[Gazetteer.Index]] — NOT three joins, which would
  * change results. Everything around the kernel (normalization, projection)
  * stays in Catalyst; the kernel itself allocates nothing per row beyond the
  * token array, and the broadcast index is shared per executor, so the
  * operator scales embarrassingly (no shuffle at any input size).
  */
object StaticParser {

  /** P7 `INDICATOR_TOKENS` (ref static_parser.py:47): the canonical keyword
    * tokens after normalization. Declared-but-unused in the reference's parse
    * path too; kept for API parity (the blocking/NER rules derive the same
    * set independently). */
  val IndicatorTokens: Set[String] = Set("mah", "cad", "sk")

  /** P3 `_best_match`: returns the best (name, start, end) or null fields.
    * Exact port of the ranking `(L, -i)` with `>` comparison (tuple order). */
  def bestMatch(
      tokens: Array[String],
      index: Gazetteer.TokenIndex,
      allowed: Option[Set[String]]): Option[(String, Int, Int)] = {
    var bestL = -1
    var bestI = 0
    var bestName: String = null
    var bestEnd = 0
    val T = tokens.length
    var i = 0
    while (i < T) {
      index.get(tokens(i)) match {
        case Some(cands) =>
          var c = 0
          while (c < cands.length) {
            val (candToks, name) = cands(c)
            if (allowed.forall(_.contains(name))) {
              val L = candToks.length
              if (i + L <= T) {
                var k = 0
                var eq = true
                while (eq && k < L) { eq = tokens(i + k) == candToks(k); k += 1 }
                // rank_key = (L, -i); strictly greater wins (ref line 143-146)
                if (eq && (bestName == null || L > bestL || (L == bestL && -i > -bestI))) {
                  bestL = L; bestI = i; bestName = name; bestEnd = i + L
                }
              }
            }
            c += 1
          }
        case None =>
      }
      i += 1
    }
    if (bestName == null) None else Some((bestName, bestI, bestEnd))
  }

  /** P4 `parse` for one already-normalized token array. */
  def parseTokens(tokens: Array[String], idx: Gazetteer.Index)
      : (Option[String], Option[String], Option[String]) = {
    val prov0 = bestMatch(tokens, idx.provIndex, None).map(_._1)

    val allowedDists = prov0.map(p => idx.provToDistricts.getOrElse(p, Set.empty))
    val dist = bestMatch(tokens, idx.distIndex, allowedDists).map(_._1)

    val prov = prov0.orElse(dist.flatMap(idx.distToFirstProv.get))

    val allowedNbhds: Option[Set[String]] = dist.map { d =>
      prov match {
        case Some(p) => idx.pairToNbhds.getOrElse((p, d), Set.empty)
        case None    => idx.distToNbhdUnion.getOrElse(d, Set.empty)
      }
    }
    val nbhd = bestMatch(tokens, idx.nbhdIndex, allowedNbhds).map(_._1)
    (prov, dist, nbhd)
  }

  /** Parse a raw string (normalizes first) — kernel form for tests/other kernels. */
  def parseOne(raw: String, idx: Gazetteer.Index)
      : (Option[String], Option[String], Option[String]) =
    parseTokens(TrText.normalizeStaticS(raw).split(" ").filter(_.nonEmpty), idx)

  /** Dataset operator: adds `province`/`district`/`neighbourhood` columns
    * parsed from `textCol`. Normalization runs in Catalyst (codegen'd); the
    * sequential hierarchy runs in one mapPartitions kernel over the broadcast
    * index. */
  def parse(df: DataFrame, textCol: String, bIdx: Broadcast[Gazetteer.Index]): DataFrame = {
    val normCol = "__graft_norm"
    val withNorm = df.withColumn(normCol, graft.functions.TrNormalize.static(col(textCol)))
    val inSchema = withNorm.schema
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("province", StringType, nullable = true),
      StructField("district", StringType, nullable = true),
      StructField("neighbourhood", StringType, nullable = true)))
    val normPos = inSchema.fieldIndex(normCol)
    val keepN = df.schema.fields.length

    val enc = Encoders.row(outSchema)
    withNorm.mapPartitions { rows =>
      val idx = bIdx.value
      rows.map { r =>
        val tokens = {
          val n = r.getString(normPos)
          if (n == null) Array.empty[String] else n.split(" ").filter(_.nonEmpty)
        }
        val (p, d, nb) = parseTokens(tokens, idx)
        val vals = new Array[Any](keepN + 3)
        var i = 0
        while (i < keepN) { vals(i) = r.get(i); i += 1 }
        vals(keepN) = p.orNull
        vals(keepN + 1) = d.orNull
        vals(keepN + 2) = nb.orNull
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }(enc)
  }

  // q_parse_full_gaz paid ~0.9 s of driver time per invocation rebuilding
  // and re-broadcasting the 73k-row index (OPTIMIZATION_r07.md). Index builds
  // are memoized JVM-wide by rows-sequence IDENTITY (the call sites pass the
  // stable `Gazetteer.rows`/`rowsFull` lazy vals; structural equality over
  // 73k rows would cost more than the build), so a fresh session reuses the
  // index; broadcasts are memoized per session (see [[graft.SessionMemo]]).
  // The index memo shares the memo bound: it holds each rows sequence it was
  // handed, so a caller passing a fresh sequence per call would otherwise pin
  // every one of them for the life of the JVM.
  private final class IdKey(val r: AnyRef) {
    override def hashCode: Int = System.identityHashCode(r)
    override def equals(o: Any): Boolean = o match {
      case k: IdKey => k.r eq r
      case _ => false
    }
  }
  private val idxMemo =
    scala.collection.concurrent.TrieMap[IdKey, Gazetteer.Index]()
  private val bcastMemo = new graft.SessionMemo[IdKey, Broadcast[Gazetteer.Index]]()

  /** (index, broadcast) memo entry counts, and whether a broadcast of
    * `spark` is memoized (test hook for the bounds above). */
  private[graft] def indexMemoState(spark: SparkSession): (Int, Int, Boolean) =
    (idxMemo.size, bcastMemo.size, bcastMemo.holds(spark))

  /** Convenience: broadcast the default synthesized gazetteer index. */
  def broadcastIndex(spark: SparkSession): Broadcast[Gazetteer.Index] =
    broadcastIndex(spark, Gazetteer.rows)

  /** Broadcast an index over arbitrary gazetteer rows (e.g. the 73k-row
    * reference-scale table, [[Gazetteer.rowsFull]]); build and broadcast are
    * memoized — see the memo note above. */
  def broadcastIndex(spark: SparkSession, rows: Seq[graft.sources.GazRow]): Broadcast[Gazetteer.Index] = {
    val k = new IdKey(rows)
    bcastMemo.getOrElseUpdate(spark, k) {
      if (idxMemo.size >= graft.SessionMemo.Bound) idxMemo.clear()
      spark.sparkContext.broadcast(idxMemo.getOrElseUpdate(k, Gazetteer.buildIndex(rows)))
    }
  }

  /** Top-`limit` closest gazetteer keys for a target string, ranked by the
    * reference's composite score `(contains, startswith, common-tokens,
    * -length)` (ref test/test_static_parser.py:63-71). */
  def suggest(keys: Seq[String], target: String, limit: Int = 5): Seq[String] = {
    val targetTokens = target.split("\\s+").filter(_.nonEmpty).toSet
    // ties keep the CALLER's key order (the reference's `sorted(...,
    // reverse=True)` is a stable sort) — proven by the 300-case executed
    // differential, where an alphabetical tie-break diverges on 258 cases
    keys.zipWithIndex.map { case (k, i) =>
      val kt = k.split("\\s+").filter(_.nonEmpty).toSet
      val score = (if (target.contains(k) || k.contains(target)) 1 else 0,
        if (k.startsWith(target)) 1 else 0,
        kt.intersect(targetTokens).size,
        -k.length)
      (score, i, k)
    }.sortBy { case ((a, b, c, d), i, _) => (-a, -b, -c, -d, i) }
      .take(limit).map(_._3)
  }
}
