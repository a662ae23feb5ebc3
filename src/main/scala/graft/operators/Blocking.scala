package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Blocking-key derivation + skew-salted candidate-pair self-join.
  *
  * North-rule operator (BASELINE.json north_star): block on composite keys
  * (postcode prefix + phonetic street token via Soundex), with salted keys for
  * skewed blocks. Absent in the reference — designed from the meta-blocking /
  * set-similarity-join literature (see PAPERS.md: SparkER EDBT'19) — but its
  * hand-built analogue is the reference's first-token inverted index
  * (static_parser.py:149-162), which is exactly a blocking structure.
  *
  * Scale design: a plain self-join on `block_key` dies at web scale the moment
  * one block is pathological (a common postcode+street ⇒ quadratic pairs in
  * ONE task; AQE can split skewed join partitions but not the quadratic
  * growth inside a single key). The salted triangle join below splits each
  * oversized block of size c into s = ceil(c/maxBlock) buckets and fans its
  * pair space over the s·(s+1)/2 (i,j) bucket-pair tasks, so the largest task
  * is O(maxBlock²) regardless of skew. Normal-sized blocks keep s = 1 and pay
  * nothing extra.
  */
object Blocking {

  /** Canonical scoring/blocking text: full canon pipeline
    * ([[graft.functions.TrNormalize]]) + ASCII fold, so every keyword-variant
    * surface form collapses to the same tokens. */
  def blockNorm(c: Column): Column =
    translate(graft.functions.TrNormalize.full(c), "ıöüğşç", "iougsc")

  /** The phonetic families of [[blockKey]], as the north star names them
    * (`Linkage.Config` rejects any other). */
  val Phonetics = Set("soundex", "metaphone")

  /** Composite block key of the normalized text, one call of [[soundexKey]]
    * or [[metaphoneKey]] per row: the postcode prefix (first 3 digits of the
    * first 5-digit run not part of a longer run), `_`, and the phonetic key
    * of the token before the first `sk` (or `cad`, when that comes first),
    * else before `mah`. No postcode and no phonetic key (or a null `norm`)
    * gives `""`, which [[candidatePairs]] puts in no block. */
  def blockKey(normCol: Column, phonetic: String = "soundex"): Column =
    Bridge.staticCall(this, s"${phonetic}Key", StringType, Seq(normCol -> StringType),
      propagateNull = false)

  def soundexKey(norm: UTF8String): UTF8String = key(norm, _.soundex())
  def metaphoneKey(norm: UTF8String): UTF8String = key(norm, graft.functions.MetaphoneUtil.metaphone)

  private val Postcode = java.util.regex.Pattern.compile("(?<!\\d)(\\d{5})(?!\\d)")

  private def key(norm: UTF8String, phon: UTF8String => UTF8String): UTF8String = {
    val s = if (norm == null) "" else norm.toString
    val toks = s.split(" ", -1)
    def before(i: Int): String = if (i > 0) toks(i - 1) else ""
    val (sk, cad) = (toks.indexOf("sk"), toks.indexOf("cad"))
    val street = before(if (sk >= 0 && (cad < 0 || sk < cad)) sk else cad)
    val tok = if (street.nonEmpty) street else before(toks.indexOf("mah"))
    val ph = phon(UTF8String.fromString(tok)).toString
    val m = Postcode.matcher(s)
    val pc = if (m.find()) m.group(1).take(3) else ""
    UTF8String.fromString(if (pc.isEmpty && ph.isEmpty) "" else s"${pc}_$ph")
  }

  /** Cap on the number of hot keys the driver-side probe will collect;
    * beyond it the operator falls back to the fully-distributed window
    * triangle (no driver materialization). 10^5 keys ≈ a few MB. */
  val MaxCollectedHotKeys = 100000

  // Both probe results are pure functions of (relation contents, probed
  // columns, maxBlock), so they are memoized per session and canonicalized
  // plan (see [[graft.SessionMemo]]): the catalog's repeated dedup queries
  // re-probe the same persisted relation on every invocation otherwise.
  private val bytesMemo = new graft.SessionMemo[(LogicalPlan, Seq[String]), Long]()
  private val hotMemo = new graft.SessionMemo[(LogicalPlan, Seq[String], Int, Int), Array[Row]]()

  /** Drop every memoized probe result for `spark` (test hook). */
  private[graft] def clearProbeMemo(spark: SparkSession): Unit = {
    bytesMemo.drop(spark)
    hotMemo.drop(spark)
  }

  /** Generic skew-salted self-join: every candidate-pair generator in the
    * engine (blocking keys, MinHash/SimHash/hyperplane band buckets, PPJoin
    * prefix shingles) routes through this ONE fan-out so the bounded-task
    * property is proved once and inherited everywhere. A plain self-join on
    * the key concentrates a hot key's entire quadratic pair fan-out in ONE
    * task (a boilerplate duplicate family in a crawl, a high-frequency
    * shingle); AQE can split skewed input partitions but not the quadratic
    * growth inside a single key (round-4 verdict item 1).
    *
    * Hot/cold split: a tiny aggregate finds keys with more than maxBlock
    * rows (normally none). Cold keys take a plain pinned self-join — one
    * exchange, reused by both sides. Each HOT key group of size c is split
    * into s = ceil(c/maxBlock) salt buckets and its pair space fans over the
    * s·(s+1)/2 (i,j) bucket-pair tasks, so the largest task is O(maxBlock²)
    * regardless of skew; cold keys pay nothing extra.
    *
    * Output orientation is NORMALIZED: `<id>_a < <id>_b` always (payloads
    * swap with their ids), so the result is deterministic and independent of
    * which triangle side a row landed on.
    *
    * PRECONDITION — deterministic or persisted input: the operator executes
    * `df` up to four times (measured-bytes probe, hot-key probe, both join
    * branches), and the regime/hot decisions must describe the same data the
    * join then executes on. A nondeterministic, unpersisted input (e.g. a
    * fresh `sample()` or a rand() column) could be classified from one
    * realization and joined on another — persist such inputs first. Every
    * engine call site already passes a deterministic or persisted relation
    * (Dedup's trackPersist, the prepared-pipeline cache). Probe results are
    * memoized per (session, canonicalized plan), so repeated invocations on
    * the same persisted relation pay the probes once per session.
    *
    * The probed columns (keys, id, payloads) must be scalar/string/binary —
    * complex types (array/map/struct) are rejected with `require`: the
    * measured-bytes pass cannot see their width, and counting them as 0
    * could force-broadcast an arbitrarily large relation (driver OOM).
    * Pre-serialize a complex payload (to_json / serialized binary) or
    * re-attach it by id after the pair join, as every dedup path does with
    * shingle sets and vectors.
    *
    * @param df          one row per (key, record) — a record may appear under
    *                    several keys (LSH bands); the same unordered pair then
    *                    appears once PER shared key, exactly like the plain
    *                    self-join (callers dedup/aggregate downstream)
    * @param keyCols     join-key column names (rows with a null key never
    *                    match in a plain inner self-join and are dropped here)
    * @param idCol       unique record id column (orders pairs; any orderable type)
    * @param payloadCols extra columns carried to both sides (suffixed _a/_b)
    * @param maxBlock    target max records per salt bucket
    * @param hotKeyCap   probe-collect cap (see [[MaxCollectedHotKeys]]);
    *                    injectable so tests can drive the fallback branch
    * @return one row per (key, unordered pair): keyCols, <id>_a, <id>_b, payloads
    */
  def saltedSelfJoin(df: DataFrame, keyCols: Seq[String], idCol: String,
                     payloadCols: Seq[String], maxBlock: Int = 1000,
                     hotKeyCap: Int = MaxCollectedHotKeys): DataFrame = {
    val rows = df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val kc = keyCols.map(col)

    // the measured-bytes probe only sees scalar/string/binary widths; a
    // complex column silently counted as 0 could push a huge relation under
    // the broadcast threshold (ADVICE r5) — enforce the documented contract
    val probedCols = keyCols ++ Seq(idCol) ++ payloadCols
    probedCols.foreach { c =>
      val dt = rows.schema(c).dataType
      require(!dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
          !dt.isInstanceOf[org.apache.spark.sql.types.MapType] &&
          !dt.isInstanceOf[org.apache.spark.sql.types.StructType],
        s"saltedSelfJoin: column '$c' has complex type ${dt.simpleString}; " +
          "the measured-bytes regime probe cannot size complex columns — " +
          "pre-serialize the payload (to_json/binary) or re-attach it by id " +
          "after the pair join (the Dedup pattern)")
    }

    // AQE coalescing is BLIND to join-output amplification: the map-side
    // bytes of these join inputs are tiny relative to the quadratic pair
    // fan-out inside each task, so AQE would happily coalesce a shuffle
    // join's exchange to one partition and run the whole pair space
    // single-threaded (observed: 207 s on 1 task vs 15 s on 32). Explicit
    // repartition pins the partition count — user repartitions are never
    // coalesced — and the join reuses it with no extra exchange.
    // Repartition BEFORE the per-side renames: the exchange subtree is then
    // identical on both sides and runs ONCE (ReuseExchange), where
    // rename-then-repartition would shuffle twice.
    def side(in: DataFrame, partKeys: Seq[String], tag: String,
             pin: Boolean): DataFrame = {
      val base =
        if (pin) in.repartition(numParts, partKeys.map(col): _*) else in
      base.select(
        partKeys.map(col) ++ Seq(col(idCol).as(s"__id_$tag")) ++
          payloadCols.map(p => col(p).as(s"__${p}_$tag")): _*)
    }

    // The skew hazard (and therefore the pin AND the salting machinery)
    // exists only in the SHUFFLE-JOIN regime: a shuffle join sends every row
    // of a key to the one task that owns the key's hash, so a hot key is a
    // single-task quadratic blowup — while a BROADCAST self-join streams
    // each task's rows against the broadcast map, so even a 100%-hot
    // relation's fan-out spreads evenly across the stream side's existing
    // partitions (measured on a forced 10k-row hot key: broadcast plain
    // join 4.3 s vs 54-58 s for ANY shuffle variant — BENCH.md round-5 §2).
    //
    // The regime must be decided from MEASURED bytes, not optimizer
    // estimates: the 960k-row blocking relation (~170 MB real) estimates to
    // 9.3 MB — just under the 10 MB broadcast threshold — because the
    // synthesize plan can't see string widths; trusting that estimate made
    // the engine broadcast a 170 MB relation (measured 83 s → 120 s at 2
    // cores, and at larger mis-estimates it would be a driver OOM). The
    // regime decision therefore uses a MEASURED per-column width sum — one
    // shuffle-free pass, the same scale as the planner's own per-type width
    // accounting (a broadcast hash relation adds object overhead, but at a
    // 10 MB threshold that is ≤ ~30 MB of heap — safe). The chosen strategy
    // is then ENFORCED with an explicit broadcast hint, so the decision and
    // the physical join can never diverge. Threshold disabled (≤ 0) ⇒
    // shuffle regime.
    // Precondition of the broadcast fast path: the stream side's
    // parallelism is the input's partitioning — every engine call site
    // keeps inputs spread (Dedup.spread / the prepared relation).
    val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold

    val outCols = (Seq("__id_l", "__id_r") ++
      payloadCols.flatMap(p => Seq(s"__${p}_l", s"__${p}_r"))).map(col)

    // plain self-join on the key. In the shuffle regime both sides are
    // pinned against AQE coalescing; in the broadcast regime the right side
    // carries an explicit broadcast hint (enforcing the measured decision)
    // and no pin is needed — a broadcast join has no coalescable exchange,
    // and the pin's extra exchange costs ~1 s of pure stage overhead per
    // query at bench scale.
    def plainJoin(in: DataFrame, shuffleRegime: Boolean): DataFrame = {
      val l = side(in, keyCols, "l", shuffleRegime)
      val r0 = side(in, keyCols, "r", shuffleRegime)
      val r = if (shuffleRegime) r0 else broadcast(r0)
      l.join(r, keyCols)
        .filter(col("__id_l") < col("__id_r"))
        .select(kc ++ outCols: _*)
    }

    // triangle fan-out over rows that already carry __s (salt-bucket count):
    // each hot key of size c splits into s = ceil(c/maxBlock) salt buckets;
    // left emits (i=salt, j) for j in [salt, s), right emits (i, j=salt) for
    // i in [0, salt] — each unordered pair meets in exactly ONE (key, i, j)
    // task and equal-salt duplicates are removed by the id order test, so
    // the largest task is O(maxBlock²) regardless of skew.
    def triangle(withS: DataFrame): DataFrame = {
      val salted = withS
        .withColumn("__salt", pmod(xxhash64(col(idCol)), col("__s")).cast("int"))
      val left = salted
        .withColumn("__i", col("__salt"))
        .withColumn("__j", explode(sequence(col("__salt"), col("__s") - 1)))
        .drop("__s", "__salt")
      val right = salted
        .withColumn("__j", col("__salt"))
        .withColumn("__i", explode(sequence(lit(0), col("__salt"))))
        .drop("__s", "__salt")
      val triKeys = keyCols ++ Seq("__i", "__j")
      // hot-path sides always pin: spreading a hot key's (i,j) groups across
      // tasks is the entire point of the fan-out
      side(left, triKeys, "l", pin = true)
        .join(side(right, triKeys, "r", pin = true), triKeys)
        .filter(col("__i") =!= col("__j") || col("__id_l") < col("__id_r"))
        .select(kc ++ outCols: _*)
    }

    // HOT/COLD SKEW SPLIT, decided by a DRIVER-SIDE PROBE. Salting every row
    // unconditionally (window count → triangle for all, the first cut)
    // shuffled the whole relation three times and duplicated every row into
    // both triangle sides — measured 3-4× the plain join on the banded LSH
    // relations, where >99.99% of keys are not hot. The driver picks the
    // plan from two cheap measurements (details below):
    //  - measured bytes broadcastable: plain join with a broadcast hint —
    //    fan-out spreads over stream partitions by construction, no salt
    //    or pin needed regardless of skew;
    //  - shuffle regime, no hot keys (the common case): the plain pinned
    //    self-join IS the plan — zero salting overhead;
    //  - shuffle regime, collectable hot set: cold keys take the pinned
    //    plain join, hot rows take the triangle with `s` baked from the
    //    ALREADY-COLLECTED counts (the membership join is a broadcast of a
    //    literal frame — `rows` is never re-shuffled for tagging);
    //  - more than hotKeyCap hot keys (adversarial: ≥ ~10^8 rows inside
    //    oversized buckets): fall back to the fully-distributed window
    //    triangle — slower but driver-safe, and at that point the pair
    //    space (≥ hotKeys·maxBlock²) dwarfs the plan overhead.
    // The probe is the same bounded-collect pattern as
    // ConnectedComponents.stringDictionary and Similarity.centroidSample;
    // the collected set is capped at ~few MB.
    //
    // Two driver actions, each one pass, the second only when needed (and
    // both memoized per (session, plan) — a catalog re-invocation on the
    // same persisted relation skips them entirely):
    //  1. measured bytes — ONE SHUFFLE-FREE job: each partition sums its
    //     row widths and the driver folds the per-partition sums (a global
    //     `agg` would plan partial sums → single-partition exchange → final
    //     sum, two jobs); actual widths for strings/binary, fixed 8 B for
    //     numeric/temporal scalars, complex types rejected above, no per-row
    //     cast or concat;
    //  2. the per-key hot aggregate — run ONLY in the shuffle regime (in
    //     the broadcast regime skew needs no treatment, so the probe would
    //     buy nothing but its aggregate job).
    // complex types are excluded by the require above, so every probed
    // column is either measured (string/binary) or fixed-width (8 B)
    val rowBytes = probedCols.map { c =>
      rows.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType =>
          coalesce(octet_length(col(c)).cast("long"), lit(0L))
        case _ => lit(8L)
      }
    }.reduce(_ + _)
    // both probes memoized per (session, canonicalized plan, probe inputs)
    val planKey = rows.queryExecution.analyzed.canonicalized
    val measuredBytes = bytesMemo.getOrElseUpdate(spark, (planKey, probedCols))(
      rows.select(rowBytes.cast("long")).queryExecution.toRdd
        .mapPartitions(it => Iterator(it.foldLeft(0L)(_ + _.getLong(0))))
        .collect().sum)
    val shuffleRegime = bcThreshold <= 0 || measuredBytes > bcThreshold

    lazy val hotRows = hotMemo.getOrElseUpdate(spark, (planKey, keyCols, maxBlock, hotKeyCap))(
      rows.groupBy(kc: _*)
        .agg(count(lit(1)).as("__hot_n"))
        .filter(col("__hot_n") > maxBlock)
        .limit(hotKeyCap + 1).collect())

    val joined =
      if (!shuffleRegime) plainJoin(rows, shuffleRegime = false)
      else if (hotRows.isEmpty) plainJoin(rows, shuffleRegime = true)
      else if (hotRows.length <= hotKeyCap) {
        val hotSchema = org.apache.spark.sql.types.StructType(
          keyCols.map(c => rows.schema(c)) :+
            org.apache.spark.sql.types.StructField("__hot_n",
              org.apache.spark.sql.types.LongType, nullable = false))
        val hotDF = spark.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), hotSchema)
        val tagged = rows.join(broadcast(hotDF), keyCols, "left")
        val cold = tagged.filter(col("__hot_n").isNull).drop("__hot_n")
        val hot = tagged.filter(col("__hot_n").isNotNull)
          .withColumn("__s",
            ceil(col("__hot_n").cast("double") / maxBlock).cast("int"))
          .drop("__hot_n")
        plainJoin(cold, shuffleRegime = true).unionByName(triangle(hot))
      } else {
        // window-computed __s for every row; s = 1 keys keep a degenerate
        // (0,0) triangle — correct, just not split
        val w = org.apache.spark.sql.expressions.Window.partitionBy(kc: _*)
        triangle(rows.withColumn("__s",
          ceil(count(lit(1)).over(w).cast("double") / maxBlock).cast("int")))
      }

    // orientation normalization: which triangle side a hot row fans to is a
    // function of its salt, so without this the a/b order of cross-bucket
    // pairs would depend on maxBlock — `fwd` re-orders each pair (and its
    // payloads) by id so salted ≡ unsalted holds ROW-identically (plain-join
    // pairs are already ordered; the projection is a no-op there).
    val fwd = col("__id_l") < col("__id_r")
    def pick(lc: String, rc: String) = when(fwd, col(lc)).otherwise(col(rc))
    joined.select(kc ++ Seq(
      pick("__id_l", "__id_r").as(s"${idCol}_a"),
      pick("__id_r", "__id_l").as(s"${idCol}_b")) ++
      payloadCols.flatMap(p => Seq(
        pick(s"__${p}_l", s"__${p}_r").as(s"${p}_a"),
        pick(s"__${p}_r", s"__${p}_l").as(s"${p}_b"))): _*)
  }

  /** Skew-salted candidate-pair self-join on a single blocking key — the
    * linkage-pipeline entry point over [[saltedSelfJoin]]. Drops empty-string
    * keys ([[blockKey]] of a record with no postcode and no street or
    * neighbourhood token), which would otherwise form one junk mega-block.
    *
    * @param df          input with one row per record
    * @param keyCol      blocking-key column name
    * @param idCol       unique record id column name (orders pairs)
    * @param payloadCols extra columns carried to both sides (suffixed _a/_b)
    * @param maxBlock    target max records per salt bucket
    * @return one row per unordered candidate pair: (block_key, <id>_a, <id>_b, payloads)
    */
  def candidatePairs(df: DataFrame, keyCol: String, idCol: String,
                     payloadCols: Seq[String], maxBlock: Int = 1000): DataFrame = {
    val cols = Seq(col(keyCol).as("bk"), col(idCol).as(idCol)) ++ payloadCols.map(col)
    val rows = df.select(cols: _*).filter(col("bk") =!= "")
    saltedSelfJoin(rows, Seq("bk"), idCol, payloadCols, maxBlock)
      .withColumnRenamed("bk", "block_key")
  }
}
