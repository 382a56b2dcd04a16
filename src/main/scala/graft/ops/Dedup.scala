package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for 100 TB: every
  * stage is either a narrow map (shingling, hashing) or a single
  * hash-shuffle on a dedup/bucket key; candidate generation never goes
  * quadratic — pairs only form inside LSH buckets.
  */
object Dedup {

  /** Exact dedup via content hash: one row per distinct fingerprint, the
    * smallest id wins. Single shuffle on the (high-cardinality, uniform)
    * hash — the cheapest possible plan at scale. Null-text rows are
    * dropped (the whole file's stance): their fingerprint is NULL, and
    * a NULL grouping key would silently collapse every null-text
    * document into one "duplicate" group. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .withColumn("text_md5", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("text_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature of a text column — a single native-expression pass
    * ([[graft.expressions.ShingleMinHashSig]]): tokenize → shingle →
    * per-permutation minima, with no per-element interpreted lambdas. */
  def minhashSignature(text: Column, shingleLen: Int, numHashes: Int): Column =
    call_function("graft_minhash_sig", text, lit(shingleLen), lit(numHashes))

  /** MinHash + banded LSH near-duplicate candidate pairs.
    *
    * `bands` bands of `rowsPerBand` hashes each; a pair is a candidate if
    * any band agrees. The plan is: narrow signature map → explode to
    * `bands` rows per doc → hash-shuffle on (band, bandHash) → within-
    * bucket self-join → distinct pairs. Bucket sizes stay tiny for
    * non-duplicate corpora, so the self-join never blows up; at 100 TB the
    * shuffle key (band hash) is uniform by construction.
    *
    * Returns (a_id, b_id, est_jaccard) with a_id < b_id, where
    * est_jaccard is the signature-agreement fraction.
    *
    * Hot-bucket guard (same decomposition as [[embeddingNearDups]]):
    * a boilerplate-heavy corpus puts N identical signatures into one
    * (band, band_hash) bucket and a plain self-join would score the
    * whole N² on a single task. Buckets above `maxBucketSize` split
    * into a G×G blocked self-join; the occupancy count rides a WINDOW
    * over the band key rather than a separate aggregate, because the
    * signature pass is the expensive stage here and must not run a
    * third time — the trade is one extra (band, band_hash) exchange
    * per side, linear and uniform, against the unbounded single-task
    * quadratic. Pair set is provably unchanged. */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 4096): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    // NOT the adaptive-probe shape: an eager probe here would need its
    // own signature pass (the expensive stage), and the window's
    // occupancy exchange is REUSED by both join sides via
    // ReuseExchange — measured, converting this to persist+probe
    // regressed the query 17–50% at sf0.1. The window-carried
    // occupancy stays.
    //
    // The self-join rides SLIM rows — (__id, band, band_hash, groups),
    // never __sig (r19, SCALE_PROBE_BATCH): carrying the 512-byte
    // signatures through the occupancy window and both join exchanges
    // tripled shuffle bytes at 30× corpus, and Catalyst's
    // post-explode row estimate broadcast the signature-carrying side
    // at GB scale (a driver OOM at real volume). Candidates are
    // LSH-bounded and tiny, so the signatures are fetched AFTER the
    // pair set exists: two id-keyed joins against a per-doc signature
    // projection (the kernel recomputes per consumer — a narrow map,
    // no exchange — which measures cheaper than shuffling sigs
    // per-band). The merge hint keeps the self-join a shuffle join
    // regardless of stats: neither side of a corpus-scale self-join
    // may ever be broadcast.
    val banded = bandedSignatures(df, idCol, textCol, shingleLen, bands, rowsPerBand)
    val w = Window.partitionBy("band", "band_hash")
    val grouped = banded
      .select(col("__id"), col("band"), col("band_hash"))
      .withColumn("__ngroups",
        greatest(lit(1L), ceil(count(lit(1)).over(w) / maxBucketSize)).cast("int"))
      .withColumn("__g", pmod(xxhash64(col("__id")), col("__ngroups")).cast("int"))
    val l = grouped.select(col("band").as("__bandl"), col("band_hash").as("__bhl"),
      col("__g").as("__gll"),
      explode(sequence(col("__g"), col("__ngroups") - 1)).as("__grl"),
      col("__id").as("__aid"))
    val r = grouped.select(col("band").as("__bandr"), col("band_hash").as("__bhr"),
      explode(sequence(lit(0), col("__g"))).as("__glr"),
      col("__g").as("__grr"),
      col("__id").as("__bid"))
    val cand = l.hint("merge")
      .join(r, col("__bandl") === col("__bandr") && col("__bhl") === col("__bhr") &&
        col("__gll") === col("__glr") && col("__grl") === col("__grr"))
      .filter(col("__aid") =!= col("__bid"))
      .select(least(col("__aid"), col("__bid")).as("a_id"),
        greatest(col("__aid"), col("__bid")).as("b_id"))
      .distinct()
    val sigs = Balance.widen(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("__sid"),
        minhashSignature(col(textCol), shingleLen, bands * rowsPerBand)
          .as("__fsig"))
    cand
      .join(sigs.select(col("__sid").as("a_id"), col("__fsig").as("a_sig")),
        Seq("a_id"))
      .join(sigs.select(col("__sid").as("b_id"), col("__fsig").as("b_sig")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(call_function("graft_sig_agree", col("a_sig"), col("b_sig")), 6)
          .as("est_jaccard"))
  }

  /** All (left row, right row) pairs sharing `keys`, via a BIPARTITE
    * blocked equi-join: each side gets an occupancy-derived group count
    * per key (`G = ceil(occ / maxBucketSize)`) and a group by id hash;
    * the left row replicates across `(gl, 0..Gr-1)`, the right across
    * `(0..Gl-1, gr)`, so every (left-group, right-group) cell lands on
    * exactly one task and no task scores more than ~`maxBucketSize²`
    * pairs — the guard for a hot ACCUMULATED-index bucket (boilerplate
    * corpus indexed over months) meeting a hot batch bucket. Cold keys
    * degenerate to the original single-cell join. Occupancy aggregates
    * are broadcast: callers pass BOUNDED sides (a batch and a
    * bucket-pruned index slice), so each occ frame is at most
    * side-rows tall. Output columns are the two sides' non-key payload
    * columns (caller must make them disjoint). */
  private def blockedBipartiteJoin(
      l: DataFrame, lIdCol: String,
      r: DataFrame, rIdCol: String,
      keys: Seq[String],
      maxBucketSize: Int = 4096): DataFrame = {
    val kc = keys.map(col)
    val lPay = l.columns.filterNot(keys.contains).toSeq
    val rPay = r.columns.filterNot(keys.contains).toSeq
    val occL = broadcast(l.groupBy(kc: _*).agg(count(lit(1)).as("__loc")))
    val occR = broadcast(r.groupBy(kc: _*).agg(count(lit(1)).as("__roc")))
    def grouped(df: DataFrame, idCol: String, groupOn: String): DataFrame =
      df.join(occL, keys).join(occR, keys)
        .withColumn("__ngl",
          greatest(lit(1L), ceil(col("__loc") / maxBucketSize)).cast("int"))
        .withColumn("__ngr",
          greatest(lit(1L), ceil(col("__roc") / maxBucketSize)).cast("int"))
        .withColumn(groupOn,
          pmod(xxhash64(col(idCol)),
            col(if (groupOn == "__gl") "__ngl" else "__ngr")).cast("int"))
    val le = grouped(l, lIdCol, "__gl").select(
      keys.zipWithIndex.map { case (k, i) => col(k).as(s"__bk${i}l") } ++
        Seq(col("__gl").as("__gll"),
          explode(sequence(lit(0), col("__ngr") - 1)).as("__grl")) ++
        lPay.map(col): _*)
    val re = grouped(r, rIdCol, "__gr").select(
      keys.zipWithIndex.map { case (k, i) => col(k).as(s"__bk${i}r") } ++
        Seq(explode(sequence(lit(0), col("__ngl") - 1)).as("__glr"),
          col("__gr").as("__grr")) ++
        rPay.map(col): _*)
    val cond = keys.indices.map(i => col(s"__bk${i}l") === col(s"__bk${i}r"))
      .reduce(_ && _) && col("__gll") === col("__glr") &&
      col("__grl") === col("__grr")
    le.join(re, cond).select((lPay ++ rPay).map(col): _*)
  }

  /** Adaptive face of [[blockedBipartiteJoin]]: one tiny max-occupancy
    * aggregate per side decides whether ANY key actually exceeds
    * `maxBucketSize`. The common cold case keeps the plain equi-join
    * plan — no occupancy joins, no replication explodes, ~40% less
    * wall time on the incremental bench queries — and the guarded
    * decomposition only materializes when a hot bucket is present.
    * Callers MUST pass persisted (or otherwise cheap-to-rescan) sides:
    * the probe is an extra action over each frame, and the incremental
    * paths already pin both the banded batch and the bucket-pruned
    * index slice in cache. The probe is batch-proportional work (the
    * sides are a batch and its pruned slice, never the corpus), so the
    * adaptivity costs O(batch) regardless of corpus size. */
  private[ops] def adaptiveBipartiteJoin(
      l: DataFrame, lIdCol: String,
      r: DataFrame, rIdCol: String,
      keys: Seq[String],
      maxBucketSize: Int = 4096): DataFrame = {
    val maxes = occupancyMax(Seq(("l", l, keys), ("r", r, keys)))
    bipartiteJoinPre(l, lIdCol, maxes("l"), r, rIdCol, maxes("r"),
      keys, maxBucketSize)
  }

  /** Max per-key occupancy of each tagged frame, in ONE action — the
    * incremental ops ask the hot-bucket question for the same persisted
    * frames two or three times per ingest (cross probe left/right,
    * intra left/right), and each [[adaptiveBipartiteJoin]] call was a
    * separate driver barrier. One union of the (≤ keys-cardinality)
    * per-side aggregates answers every decision at once. An empty side
    * reads as occupancy 0 (its agg(max) row is null). */
  private[ops] def occupancyMax(
      sides: Seq[(String, DataFrame, Seq[String])]): Map[String, Long] =
    sides.map { case (tag, df, keys) =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(max(col("__c")).as("__m"))
        .select(lit(tag).as("__side"), col("__m"))
    }.reduce(_ unionByName _).collect()
      .map(row => row.getString(0) ->
        (if (row.isNullAt(1)) 0L else row.getLong(1))).toMap

  /** [[adaptiveBipartiteJoin]] with the occupancy maxima already known
    * (via [[occupancyMax]]) — plan-only, NO action: the common cold
    * case keeps the plain equi-join, the hot case takes the blocked
    * decomposition. Callers own the accuracy of the maxima (they must
    * describe the frames as joined). */
  private[ops] def bipartiteJoinPre(
      l: DataFrame, lIdCol: String, lMax: Long,
      r: DataFrame, rIdCol: String, rMax: Long,
      keys: Seq[String],
      maxBucketSize: Int = 4096): DataFrame =
    if (lMax <= maxBucketSize && rMax <= maxBucketSize) {
      val lPay = l.columns.filterNot(keys.contains).toSeq
      val rPay = r.columns.filterNot(keys.contains).toSeq
      l.join(r, keys).select((lPay ++ rPay).map(col): _*)
    } else blockedBipartiteJoin(l, lIdCol, r, rIdCol, keys, maxBucketSize)

  /** `(__id, __sig, band, band_hash)` banding of the non-null-text rows
    * — the shared candidate-generation core of [[minhashLshPairs]] and
    * the persistent LSH index ([[indexNearDups]] /
    * [[incrementalNearDups]]). Null text must not reach the banding: a
    * null signature slices to null band inputs, and xxhash64(null) is a
    * CONSTANT — every null-text row would share every bucket (quadratic
    * self-join). Null-text rows simply have no pairs. */
  private[graft] def bandedSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = Balance.widen(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("__id"),
        minhashSignature(col(textCol), shingleLen, numHashes).as("__sig"))
    sig.select(
      col("__id"), col("__sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(array_join(
            transform(slice(col("__sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)),
              _.cast("string")), ","))
            .as("band_hash")))).as("__b"))
      .select(col("__id"), col("__sig"),
        col("__b.band").as("band"), col("__b.band_hash").as("band_hash"))
  }

  /** Distinct `n`-token shingle set of a text column — EXACTLY the
    * shingle definition of [[minhashSignature]] (whitespace tokens, one
    * shingle of all tokens when fewer than `n`), so exact-Jaccard
    * verification measures the same quantity the MinHash estimates.
    * Kernel-backed ([[graft.expressions.ShingleSetExpr]]): one pass,
    * no per-shingle interpreted lambda — [[shingleSetColumnForm]] is
    * the column-expression reference it must match (parity spec). */
  def shingleSet(text: Column, n: Int): Column =
    call_function("graft_shingle_set", text, lit(n))

  /** Column-expression reference form of [[shingleSet]] (HOF
    * transform/slice) — kept for the kernel parity spec; the kernel is
    * ~50× faster per row. Element ORDER may differ from the kernel
    * (set semantics); compare sorted. */
  def shingleSetColumnForm(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  /** MinHash-LSH candidate pairs VERIFIED by exact shingle-set Jaccard:
    * the two-stage shape of every production near-dup pipeline —
    * sub-quadratic candidate generation (LSH buckets), then the exact
    * metric evaluated ONLY on candidates. Returns
    * (a_id, b_id, jaccard) with a_id < b_id, jaccard ≥ `minJaccard`
    * exact (not estimated).
    *
    * Scale shape: the shingle sets are materialized once per document
    * (narrow map) and hash-joined to the (tiny) candidate list — two
    * id-keyed shuffles of corpus-proportional data, never a pairwise
    * blowup. With default banding (16 bands × 4 rows) the probability
    * that a Jaccard-0.8 pair is missed is (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴, so the
    * verified output is, deterministically on a fixed corpus, the full
    * ≥-threshold pair set — which is what the driver oracle
    * cross-checks by exhaustive enumeration.
    */
  def verifiedNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val cand = minhashLshPairs(df, idCol, textCol, shingleLen, bands, rowsPerBand)
      .select(col("a_id"), col("b_id"))
    val txt = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__tid"), col(textCol).as("__t"))
    // texts are joined to the (tiny) candidate list and the exact
    // Jaccard is ONE native kernel call per pair
    // ([[graft.expressions.ShingleJaccard]]) — interpreted per-element
    // array lambdas here dominated the whole verify stage
    cand
      .join(txt.select(col("__tid").as("a_id"), col("__t").as("__at")), "a_id")
      .join(txt.select(col("__tid").as("b_id"), col("__t").as("__bt")), "b_id")
      .select(col("a_id"), col("b_id"),
        call_function("graft_shingle_jaccard",
          col("__at"), col("__bt"), lit(shingleLen)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** 64-bit SimHash over word tokens: per-token 64-bit hash, bit-majority
    * vote. Hamming-close simhashes ⇒ near-duplicate texts. Implemented as
    * a native one-pass expression ([[graft.expressions.SimHash]]). */
  def simhash64(text: Column): Column =
    call_function("graft_simhash", text)

  /** Banded SimHash candidate pairs: the 64-bit simhash is sliced into
    * `bands` equal bit-bands and documents are bucket-joined per band —
    * pairs only form inside a (band, band-bits) bucket, never across the
    * whole corpus. Returns (a_id, b_id, hamming) with a_id < b_id.
    *
    * Pigeonhole guarantee: a pair at Hamming distance < `bands` ALWAYS
    * shares at least one untouched band, so such pairs (in particular
    * hamming = 0: identical or vote-identical texts) are found
    * deterministically — no hash luck involved. Pairs at larger
    * distances are found probabilistically (their differing bits must
    * leave some band clean).
    */
  def simhashBandPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4): DataFrame =
    bandPairs64(
      Balance.widen(df.filter(col(textCol).isNotNull))
        .select(col(idCol), simhash64(col(textCol)).as("__hash64")),
      idCol, "__hash64", bands)

  /** One `(band, bh)` struct per band of a 64-bit hash — THE slicer
    * every 64-bit banding path shares (SimHash pairs, image dHash, the
    * cross-modal pair index). One implementation, one bit layout: an
    * incremental index built from these keys collides with the batch
    * path's candidates by construction, and a future change to the
    * shift/mask cannot silently diverge the two. */
  private[graft] def bandSlices64(hashCol: Column, bands: Int): Column = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(hashCol, b * width)
          .bitwiseAND(lit(mask)).as("bh"))): _*)
  }

  /** Banded candidate pairing over ANY precomputed 64-bit hash column —
    * the generator behind [[simhashBandPairs]] (text) and
    * [[graft.ops.Multimodal.imageNearDups]] (perceptual image hashes):
    * the hash is sliced into `bands` equal bit-bands and rows bucket-join
    * per band, so pairs only form inside a (band, band-bits) bucket,
    * never across the corpus. Returns (a_id, b_id, hamming), a_id < b_id.
    *
    * Pigeonhole guarantee (same as the text face): a pair at Hamming
    * distance < `bands` always shares an untouched band and is found
    * DETERMINISTICALLY; larger distances are probabilistic. */
  def bandPairs64(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      bands: Int,
      maxBucketSize: Int = 4096): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val sh = df.select(col(idCol).as("__id"), col(hashCol).as("__sh"))
    val banded = sh.select(col("__id"), col("__sh"),
      explode(bandSlices64(col("__sh"), bands)).as("__b"))
      .select(col("__id"), col("__sh"),
        col("__b.band").as("band"), col("__b.bh").as("bh"))
    // hot-bucket guard — the same G×G triangular decomposition as
    // [[minhashLshPairs]]: a boilerplate-heavy corpus (100k identical
    // pages → one (band, bh) bucket) would otherwise materialize the
    // whole bucket² on a single shuffle task. The window-carried
    // occupancy is reused by both join sides via ReuseExchange.
    val w = Window.partitionBy("band", "bh")
    val grouped = banded
      .withColumn("__ngroups",
        greatest(lit(1L), ceil(count(lit(1)).over(w) / maxBucketSize)).cast("int"))
      .withColumn("__g", pmod(xxhash64(col("__id")), col("__ngroups")).cast("int"))
    val l = grouped.select(col("band").as("__bandl"), col("bh").as("__bhl"),
      col("__g").as("__gll"),
      explode(sequence(col("__g"), col("__ngroups") - 1)).as("__grl"),
      col("__id").as("__aid"), col("__sh").as("a_sh"))
    val r = grouped.select(col("band").as("__bandr"), col("bh").as("__bhr"),
      explode(sequence(lit(0), col("__g"))).as("__glr"),
      col("__g").as("__grr"),
      col("__id").as("__bid"), col("__sh").as("b_sh"))
    // merge hint, same reason as minhashLshPairs (r19): the sides here
    // are slim (the hash is one long, unlike minhash's 512-byte sigs),
    // but Catalyst's post-explode row estimate can still elect to
    // BROADCAST a corpus-scale side — a driver-size hazard at volume
    l.hint("merge")
      .join(r, col("__bandl") === col("__bandr") && col("__bhl") === col("__bhr") &&
        col("__gll") === col("__glr") && col("__grl") === col("__grr"))
      .filter(col("__aid") =!= col("__bid"))
      .select(least(col("__aid"), col("__bid")).as("a_id"),
        greatest(col("__aid"), col("__bid")).as("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).as("hamming"))
      .distinct()
  }

  /** Connected components over near-duplicate pairs → one cluster id
    * (the minimum member id) per document. This is the step that turns a
    * candidate-pair list into keep/drop decisions: keep `id == cluster`,
    * drop the rest.
    *
    * Iterative min-label propagation with POINTER JUMPING: each round
    * every node adopts (a) the smallest label in its neighborhood and
    * (b) the label of its current label — the jump halves chain lengths
    * per round, so rounds grow with log(diameter) rather than diameter
    * (the same round-compression goal as the large-star/small-star
    * alternation). The convergence flag is an aggregate over the SAME
    * materialized frame that carries the next labels (the old label
    * rides along as `__old`), not a second recompute.
    *
    * Every round ends in an EAGER `localCheckpoint`, not a mere persist:
    * persist caches data but each round's ANALYZED plan still embeds the
    * previous round's tree, and the per-round planning overhead grows
    * with iteration count — measured 2.5→6.6 s/round by round 3 on a
    * 2,300-node graph versus a flat ~0.6 s/round with truncation. The
    * checkpoint job also guarantees the upstream pair pipeline runs
    * exactly once (round 0 materializes it under a single job).
    *
    * Returns (id, cluster).
    */
  def clusterPairs(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxIter: Int = 20,
      driverEdgeLimit: Long = 2000000L): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // try/finally below: a failure anywhere (an executor loss mid
    // pointer-jumping round, a driver OOM in the collect) must not leak
    // the pinned edge frame into the caller's session — the SURVEY §10
    // pool squeeze the incremental operators already guard against
    try {
    // materialize the edge cache EAGERLY: round 0 references the edge
    // subtree several times (neighbor join, label init, jump), and racing
    // cache population would re-run the upstream pair pipeline — typically
    // the expensive part — once per reference
    val edgeCount = edges.count()

    // Hybrid small-graph path: the verified near-dup edge set is orders
    // of magnitude smaller than the corpus (only pairs above the Jaccard
    // threshold survive verification — ~0.03 % of rows on the planted
    // corpora, and real web corpora cluster similarly sparsely). When it
    // fits the driver comfortably (2 M symmetric long edges ≈ 32 MB),
    // exact union-find in one collect beats 4-6 distributed rounds of
    // 2-join jobs by the per-round scheduling constant — the same reason
    // the reference runs its whole dedup single-node. The distributed
    // pointer-jumping loop below remains the path for graphs that DON'T
    // fit (billions of edges at 100 TB), and for non-long id types.
    val idsAreLong = edges.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    if (idsAreLong && edgeCount <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.get(x) != x) {
          parent.put(x, parent.get(parent.get(x))) // path halving
          x = parent.get(x)
        }
        x
      }
      // typed collect: primitive (Long, Long) tuples, not boxed Rows —
      // 2M GenericRows would cost ~10× the raw-long estimate the
      // driverEdgeLimit sizing assumes (~32 MB) and risk a driver OOM
      import spark.implicits._
      edges.select("src", "dst").as[(Long, Long)].collect().foreach { case (a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        // min-label union keeps the distributed path's invariant:
        // cluster = minimum member id
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = new Array[(Long, Long)](parent.size)
      val it = parent.keySet().iterator()
      var i = 0
      while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
      return spark.createDataset(out.toSeq).toDF("id", "cluster")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster", "n_cluster"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("n_cluster")).as("n_min"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("n_min"), col("cluster")))
            .as("cluster"),
          col("cluster").as("__old"))
      // pointer jump against the previous (checkpointed) labels: label of
      // label — one extra join on a flat plan, no recompute
      val next = stepped
        .join(labels.select(col("id").as("cluster"), col("cluster").as("__jump")),
          Seq("cluster"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("__jump"), col("cluster")))
            .as("cluster"),
          col("__old"))
        .localCheckpoint(true)
      // cheap scan of the checkpointed frame — no recompute
      val changed = next.filter(col("cluster") =!= col("__old")).count()
      labels = next.drop("__old")
      converged = changed == 0
      i += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"clusterPairs did not converge in $maxIter rounds (component " +
          "diameter exceeds maxIter) — raise maxIter; silent partial labels " +
          "would keep redundant near-duplicates")
    }
    // already lineage-cut by the final round's checkpoint; intermediate
    // checkpoint blocks are GC-cleaned once their frames are dropped
    labels
    } finally edges.unpersist(blocking = false)
  }

  /** One-call near-duplicate corpus dedup: MinHash-LSH candidate pairs,
    * VERIFIED against the signature-agreement estimate (`minJaccard` —
    * raw LSH candidates include ~Jaccard-0.5 false positives at the
    * default banding), → connected components → drop every document that
    * is not its cluster's canonical (minimum-id) member. Documents in no
    * cluster (including null-text rows) pass through. The anti-join
    * ships only (id, cluster) pairs — tiny next to the corpus. */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.7,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxIter: Int = 20): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleLen, bands, rowsPerBand)
      .filter(col("est_jaccard") >= minJaccard)
    val losers = clusterPairs(pairs, maxIter = maxIter)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** C4-style GLOBAL line dedup: across the whole corpus, each distinct
    * non-blank line survives only in the first document that carries it
    * (order: (id, line position)); blank/whitespace-only lines always
    * survive. This is the standard boilerplate killer — nav bars,
    * cookie banners, "all rights reserved" footers repeat across
    * millions of pages and line-level exact dedup removes them where
    * document-level dedup cannot. Returns `(idCol, text)` with each
    * document rebuilt from its surviving lines in original order
    * (documents reduced to nothing come back as "").
    *
    * NULL-text documents also come back as "" — posexplode of a null
    * split drops the row, and the reassembly coalesce fills the blank.
    * A pipeline using `text IS NULL` to mean "body never fetched" must
    * snapshot that marker BEFORE this pass; after it, never-fetched
    * and fully-boilerplate documents are indistinguishable.
    *
    * 100 TB: one hash shuffle keyed on LINE CONTENT with the owner
    * elected by a MAP-SIDE-COMBINED `min(struct(id, line_no))`
    * aggregate — deliberately NOT a per-key window: a cookie-banner
    * line repeated in millions of pages would co-locate and SORT its
    * entire group on one task under `row_number`, exactly the
    * single-key straggler [[exciseRepeatedSpans]] documents avoiding;
    * the aggregate partial-combines on the mappers instead. Blank
    * lines — the one guaranteed-skewed key — never enter the election
    * at all. Then one shuffle back on the document id to reassemble.
    * Both are plain keyed exchanges; no global sort. */
  def dedupLinesGlobal(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("__ln", "__line")))
    val blank = trim(col("__line")) === ""
    // min(struct) plans as SortAggregate (struct buffers are not
    // hash-aggregable) — accepted HERE: lines are one aggregate and
    // done, so the two-phase primitive election used by
    // [[exciseRepeatedSpans]] would add a second full exchange of every
    // corpus line to remove a per-partition sort (measured a wash at
    // sf0.1; the sort spills gracefully at scale)
    val keptNonBlank = lines.filter(!blank)
      .groupBy(col("__line"))
      .agg(min(struct(col(idCol), col("__ln"))).as("__owner"))
      .select(col("__owner").getField(idCol).as(idCol),
        col("__owner").getField("__ln").as("__ln"),
        col("__line"))
    val kept = keptNonBlank.unionByName(lines.filter(blank))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__ln"), col("__line")))),
          x => x.getField("__line"))).as("text"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .withColumn("text", coalesce(col("text"), lit("")))
  }

  /** Substring-level (span) dedup: every `w`-token shingle that occurs
    * in TWO OR MORE documents survives only at its globally-first
    * occurrence — the minimum `(id, start)` — and every other
    * occurrence's token positions are excised from their documents.
    * This is the span-granular boilerplate/memorization killer from the
    * "deduplicating training data" line of work: document-level dedup
    * misses a license header or lyrics block pasted into millions of
    * otherwise-distinct pages; span-level removal excises exactly the
    * repeated text. Line dedup ([[dedupLinesGlobal]]) is the
    * line-granular special case.
    *
    * Tokens are the non-empty `\s+`-separated runs; output text is
    * therefore whitespace-normalized (single spaces). Returns one row
    * per input document: `(idCol, n_tokens, n_removed, text)`.
    *
    * 100 TB plan shape: shingling is a narrow map; the duplicated-key
    * test (`min(id) != max(id)`) and the owner election
    * (`min(struct(id, start))`) are ONE map-side-combined aggregate on
    * the shingle key — deliberately NOT a per-key window, so a
    * boilerplate span repeated in millions of documents partial-
    * aggregates on the mappers instead of sorting one giant key
    * partition. Non-owner occurrences then rejoin the shingle stream
    * (hash join on the same key), explode to at most
    * `w × duplicated-occurrences` covered positions, and one anti-join
    * plus a per-document rebuild (bounded by document size) finish the
    * job. Nothing in the plan holds more than one document's tokens in
    * a single group. */
  def exciseRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5): DataFrame = {
    require(w >= 2, s"span width must be at least 2 tokens, got $w")
    // Tokens are \s+-separated runs, so a SPACE provably cannot occur
    // inside one -- the space-joined window key is injective for fixed
    // w. (A control-char separator like U+001F is NOT safe here: it is
    // outside Java's \s class, so crawled text can carry it inside a
    // token and two distinct windows could collide into one key,
    // falsely excising text.)
    val Sep = " "
    val toks = df.select(col(idCol),
      filter(split(coalesce(col(textCol), lit("")), "\\s+"), t => t =!= "")
        .as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
    // narrow shingle map: (id, start, key) for start = 1 .. n-w+1
    val sh = toks
      .select(col(idCol), explode(
        when(col("__n") >= w,
          transform(sequence(lit(1), (col("__n") - (w - 1)).cast("int")), i =>
            struct(i.cast("long").as("__start"),
              concat_ws(Sep, slice(col("__ts"), i, lit(w))).as("__key"))))
          .otherwise(array().cast("array<struct<__start:bigint,__key:string>>")))
        .as("__s"))
      .select(col(idCol), col("__s.__start").as("__start"), col("__s.__key").as("__key"))
    // skew-immune: duplicated-test + owner election as one combinable
    // agg. min(struct) carries a struct-typed buffer, so this plans as
    // SortAggregate (per-partition sort, still map-side combined, still
    // one exchange). The r20 plan audit tried the two alternatives:
    // min_by has the same struct buffer (also SortAggregate), and a
    // two-phase primitive-only election (HashAggregate + join-back)
    // measured 12% SLOWER at sf0.1 — the extra pass over the shingle
    // stream costs more than the per-partition sort it removes, and at
    // scale the sort spills gracefully where a second exchange is pure
    // added network. Kept deliberately. CLOSED r21 by the 30x/60x probe
    // (SCALE_PROBE_SPANS60.json): text_dedup_spans wall is flat from
    // 30x to 60x (13.28 -> 13.57 s, ratio 6.05 -> 6.18 vs copy factors
    // 30/60) with only a bounded graceful spill at 60x (269 MB memory /
    // 18 MB disk) and zero wall effect — the regime where the two-phase
    // election could win never materializes.
    val owners = sh.groupBy(col("__key"))
      .agg(min(col(idCol)).as("__mind"), max(col(idCol)).as("__maxd"),
        min(struct(col(idCol).as("__oid"), col("__start").as("__ostart"))).as("__owner"))
      .filter(col("__mind") =!= col("__maxd"))
      .select(col("__key"), col("__owner"))
    val nonOwner = sh.join(owners, Seq("__key"))
      .filter(struct(col(idCol).as("__oid"), col("__start").as("__ostart")) =!= col("__owner"))
    // Rebuild shape (r20): aggregate each document's covered SPANS into
    // one positions array (the shuffle carries only duplicated-span
    // occurrences — decision data, never tokens), then excise + rejoin
    // inside the row via the linear two-pointer kernel
    // ([[graft.expressions.ExciseTokens]]). The previous shape
    // posexploded EVERY corpus token into the exchange, anti-joined the
    // covered positions, and re-assembled documents with a
    // collect_list/array_sort aggregate — three corpus-token-cardinality
    // shuffles to carry decisions about a few covered spans (guide §8:
    // shuffle the lightweight proxy, never the payload). shuffle_hash,
    // not sort-merge: a sort would order the token-array-carrying rows
    // (the containment/winnow text-fetch lesson, r20 commit 4619cfb);
    // broadcast is wrong at scale (every doc can carry dup spans).
    val coveredAgg = nonOwner
      .select(col(idCol),
        sequence(col("__start"), col("__start") + (w - 1)).as("__span"))
      .groupBy(col(idCol))
      .agg(flatten(collect_list(col("__span"))).as("__cov"))
    toks
      .join(coveredAgg.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col("__n").as("n_tokens"),
        call_function("graft_excise_tokens", col("__ts"),
          coalesce(col("__cov"),
            array().cast("array<bigint>"))).as("__r"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - col("__r.n_kept")).as("n_removed"),
        col("__r.text").as("text"))
  }

  /** Exact Jaccard similarity between the distinct-word sets of two text
    * columns (the verification step behind MinHash candidates). */
  def wordSetJaccard(a: Column, b: Column): Column = {
    val sa = array_distinct(split(trim(a), "\\s+"))
    val sb = array_distinct(split(trim(b), "\\s+"))
    round(size(array_intersect(sa, sb)) * lit(1.0) /
      size(array_union(sa, sb)), 6)
  }

  /** Incremental exact dedup against a PERSISTENT seen-set — the
    * daily-ingest shape of [[exact]]. Filters `batch` to rows whose
    * normalized content fingerprint ([[TextAnalysis.fingerprint]]) is
    * (a) unique within the batch (smallest id wins, map-side-combined
    * `min_by`, one shuffle of the BATCH only) and (b) absent from the
    * seen-set held in a [[graft.pipeline.BucketedStateTable]] keyed on
    * `content_hash`; then commits the survivors' fingerprints so the
    * next batch sees them. Null-text rows are dropped (no fingerprint).
    *
    * Returns the surviving batch rows plus their `content_hash`.
    *
    * 100 TB: the corpus-wide groupBy of [[exact]] never happens here —
    * the anti-join probes ONLY the state buckets the batch's
    * fingerprints hash into
    * ([[graft.pipeline.BucketedStateTable.readForKeys]]), and the
    * commit rewrites only those buckets. A 1,515-row micro-batch
    * against 100 TB of accumulated seen-state touches a handful of
    * bucket directories; re-ingesting the same batch is a no-op (the
    * replay-idempotence the reference gets from its keyed upsert,
    * `PostgrePersistenceService.java:218-280`). The survivors are
    * eagerly checkpointed BEFORE the state commit so the returned
    * frame cannot observe its own hashes — and no persisted blocks
    * escape into the caller's session.
    *
    * '''State-format note (pre-r15 stores).''' Two r15 changes altered
    * what persisted seen-state MEANS: [[TextAnalysis.fingerprint]] now
    * trims before hashing (a store written earlier holds UNTRIMMED
    * hashes, so documents with edge whitespace would be re-admitted as
    * "new"), and `first_id` now keeps the caller's id type verbatim (a
    * store whose `first_id` was cast to long fails `widenCheck`'s
    * no-retype rule on the first merge with a string id). The recovery
    * path for such a store — or any store whose hashes are suspect — is
    * [[rebuildExactState]] from the retained corpus; there is no
    * in-place migration because the old hashes are not recoverable
    * into the new normalization. */
  def incrementalExact(
      state: graft.pipeline.BucketedStateTable,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val fp = batch.filter(col(textCol).isNotNull)
      .withColumn("content_hash", TextAnalysis.fingerprint(col(textCol)))
    val firsts = fp
      .groupBy(col("content_hash"))
      .agg(min_by(struct(col("*")), col(idCol)).as("__r"))
      .select(col("__r.*")) // the struct already carries content_hash
      // pinned: readForKeys' dirty-bucket probe is an eager collect and
      // the kept-checkpoint re-executes the plan — without this the
      // batch scan + fingerprint + min_by shuffle ran twice per ingest
      // (the same probe-then-join shape incrementalNearDups persists)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // first_id keeps the caller's id type VERBATIM: a cast("long")
      // here wrote NULL for every non-numeric (UUID/string) id — dedup
      // still worked via content_hash, but the recorded winner id (the
      // table's only payload) was silently destroyed
      val like = firsts
        .select(col("content_hash"), col(idCol).as("first_id"))
      // inside the try: readForKeys eagerly collects the dirty-bucket
      // probe over `firsts`, so a failure HERE must also unpersist
      val seen = state.readForKeys(firsts.select(col("content_hash")), like)
      val kept = firsts
        .join(seen.select(col("content_hash")), Seq("content_hash"),
          "left_anti")
        .localCheckpoint(true)
      state.merge(
        kept.select(col("content_hash"), col(idCol).as("first_id")),
        keys = Seq("content_hash"))
      kept
    } finally firsts.unpersist(blocking = false)
  }

  /** One-shot rebuild of an [[incrementalExact]] seen-state from the
    * retained corpus — the recovery path for any store whose hashes
    * are suspect, including stores written before the r15
    * fingerprint-normalization / id-type changes (see the state-format
    * note on [[incrementalExact]]). Recomputes every
    * fingerprint under the CURRENT normalization and atomically
    * replaces the table's contents in one commit (crash-safe: a
    * failure leaves the old snapshot current). Costs one full corpus
    * scan + one shuffle by `content_hash` — a deliberate, operator-
    * invoked price, never paid on the ingest path. */
  def rebuildExactState(
      state: graft.pipeline.BucketedStateTable,
      corpus: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val firsts = corpus.filter(col(textCol).isNotNull)
      .withColumn("content_hash", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("first_id"))
    state.replaceAll(firsts.select(col("content_hash"), col("first_id")))
  }

  /** Build (or extend) a persistent MinHash-LSH band index over `df`:
    * one `(band, band_hash, doc_id)` row per document per band, stored
    * in a [[graft.pipeline.BucketedStateTable]] keyed on all three
    * columns but BUCKETED on `(band, band_hash)` — so a later probe
    * that knows only its band hashes ([[incrementalNearDups]]) reads
    * only the matching buckets. Construct the table as:
    * {{{
    * new BucketedStateTable(spark, path,
    *   keyCols = Seq("band", "band_hash", "doc_id"),
    *   bucketCols = Seq("band", "band_hash"))
    * }}}
    * Banding parameters must match between indexing and probing (they
    * define the hash space; the table cannot check this for you). */
  def indexNearDups(
      index: graft.pipeline.BucketedStateTable,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): Unit =
    index.merge(
      bandedSignatures(df, idCol, textCol, shingleLen, bands, rowsPerBand)
        .select(col("band"), col("band_hash"), col("__id").as("doc_id")),
      keys = Seq("band", "band_hash", "doc_id"))

  /** Incremental NEAR-dup detection: find every verified ≥-`minJaccard`
    * pair that involves at least one document of `batch`, against a
    * corpus whose LSH band index was built incrementally by
    * [[indexNearDups]] — then add the batch to the index. This is the
    * production shape: ingesting a day's crawl must not re-LSH the
    * accumulated 100 TB corpus.
    *
    * `corpus` is the doc store for verification text lookup (ids must
    * be unique across corpus ∪ batch; a batch row REUSING a corpus id
    * is treated as the same document and never paired with itself).
    * Returns `(a_id, b_id, jaccard)` with a_id < b_id, jaccard the
    * EXACT shingle Jaccard (same two-stage candidates→verify shape as
    * [[verifiedNearDupPairs]]).
    *
    * 100 TB: the batch is banded (narrow kernel map) and the index
    * probed via a bucket-pruned read — only the state buckets holding
    * the batch's `(band, band_hash)` values are listed and scanned,
    * never the corpus-sized index. Candidates are batch-proportional;
    * the text lookup is pruned to the candidate ids BEFORE its per-id
    * aggregate, and with `docStore` wired (the id-keyed doc store the
    * streaming twin maintains) the corpus text READ is bucket-pruned to
    * those ids' buckets too — per-batch verify cost stops growing with
    * everything ever ingested.
    * Replaying an already-ingested batch re-emits the same pairs and
    * leaves the index unchanged (merge is keyed — at-least-once safe).
    */
  def incrementalNearDups(
      index: graft.pipeline.BucketedStateTable,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.8,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 4096,
      docStore: Option[graft.pipeline.BucketedStateTable] = None): DataFrame = {
    // persisted, NOT eagerly counted: the first action over bNew is the
    // bucket probe inside readForKeys below, which materializes the pin
    // — a count() here was one extra full pass over the cached banding
    val bNew = bandedSignatures(batch, idCol, textCol, shingleLen, bands, rowsPerBand)
      .select(col("band"), col("band_hash"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val like = bNew.select(col("band"), col("band_hash"),
      col("__id").as("doc_id")).limit(0)
    // pinned eagerly to the CURRENT commit's files — the merge below
    // cannot make the probe see the batch's own rows; persisted because
    // the guarded join reads it twice (occupancy + pairing), and a
    // second bucket-pruned file read would double the probe I/O. The
    // probed bucket set is kept for the closing merge (same batch,
    // same bucket values — one bucket probe per ingest)
    val (slice0, probedDirty) = index.readForKeysProbed(
      bNew.select(col("band"), col("band_hash")), like)
    val slice = slice0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // hot-bucket-guarded joins: an accumulated boilerplate index makes
    // a slice bucket huge, a duplicated batch makes its own bucket
    // huge — both decompose into bounded bipartite cells. ONE occupancy
    // action answers all three adaptive decisions (cross left/right,
    // intra both sides are bNew) — this also doubles as the slice pin's
    // materialization pass, and bNew reads cache (never a third
    // signature pass)
    val keys = Seq("band", "band_hash")
    val occ = occupancyMax(Seq(("b", bNew, keys), ("slice", slice, keys)))
    val cross = bipartiteJoinPre(
      bNew.select(col("band"), col("band_hash"), col("__id").as("__nid")), "__nid", occ("b"),
      slice.select(col("band"), col("band_hash"), col("doc_id").as("__oid")), "__oid", occ("slice"),
      keys = keys, maxBucketSize = maxBucketSize)
      .filter(col("__oid") =!= col("__nid"))
      .select(least(col("__oid"), col("__nid")).as("a_id"),
        greatest(col("__oid"), col("__nid")).as("b_id"))
    val intra = bipartiteJoinPre(
      bNew.select(col("band"), col("band_hash"), col("__id").as("a_id")), "a_id", occ("b"),
      bNew.select(col("band"), col("band_hash"), col("__id").as("b_id")), "b_id", occ("b"),
      keys = keys, maxBucketSize = maxBucketSize)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // persisted: the pair set is read by the candidate-id derivation
    // AND the verify joins — without the cache the two guarded
    // bipartite joins above would run twice
    val cand = cross.unionByName(intra).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the verify step needs TEXT for candidate ids ONLY — batch-
    // proportional, never corpus-proportional. candIds is persisted
    // because it is read twice (the doc store's bucket probe + the
    // semi-join prune) and derives from the already-persisted bNew/slice
    val candIds = cand.select(col("a_id").as(idCol))
      .unionByName(cand.select(col("b_id").as(idCol)))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // corpus text source: with a doc STORE wired (the streaming twin),
    // read only the buckets the candidate ids hash into — a file-level
    // prune, so per-batch verify I/O stops growing with everything ever
    // streamed; a plain corpus frame is semi-join-pruned to candidates
    // BEFORE the per-id aggregate (the shuffle is candidate-sized
    // either way, the scan only avoidable with the store)
    val corpusTxt = docStore match {
      case Some(store) => store
        .readForKeys(candIds, like = corpus.select(col(idCol), col(textCol)).limit(0))
        .select(col(idCol), col(textCol))
      case None => corpus.select(col(idCol), col(textCol))
    }
    // ONE text row per id: a batch row REUSING a corpus id (the
    // documented at-least-once replay state — the doc store committed,
    // the pairs merge retried) would otherwise appear twice here and
    // multiply every joined pair 2–4×; the batch copy wins so changed
    // text verifies against what is being ingested NOW. The collision
    // is resolved by an anti-join of the corpus side against the
    // batch's non-null-text ids — bNew's distinct __id set, already
    // pinned in cache (banding filters null text, so it IS that set) —
    // instead of a max(struct(__p, text)) aggregate: the aggregate
    // planned as a SortAggregate ORDERING candidate text rows through
    // an exchange, where the anti-join ships only ids and the text
    // rows never sort or shuffle (the containment/winnow slim-row
    // lesson applied to the verify fetch).
    // The unique-id contract (op docstring: ids unique across index ∪
    // stream) also excludes duplicate ids WITHIN one batch: the old
    // struct-max incidentally collapsed intra-batch duplicate rows,
    // the anti-join form does not — a contract-violating batch holding
    // one id with two non-null texts would emit duplicate txt rows and
    // multiply its pairs; at-least-once sources must dedupe by id
    // upstream (the contract the whole family already states).
    val batchIds = bNew.select(col("__id").as(idCol)).distinct()
    val txt = corpusTxt
      .filter(col(textCol).isNotNull)
      .join(candIds, Seq(idCol), "left_semi")
      .join(batchIds, Seq(idCol), "left_anti")
      .unionByName(batch.select(col(idCol), col(textCol))
        .filter(col(textCol).isNotNull)
        .join(candIds, Seq(idCol), "left_semi"))
      .select(col(idCol).as("__tid"), col(textCol).as("__t"))
    val pairs = cand
      .join(txt.select(col("__tid").as("a_id"), col("__t").as("__at")), "a_id")
      .join(txt.select(col("__tid").as("b_id"), col("__t").as("__bt")), "b_id")
      .select(col("a_id"), col("b_id"),
        call_function("graft_shingle_jaccard",
          col("__at"), col("__bt"), lit(shingleLen)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    // Eager localCheckpoint BEFORE the merge PUBLISH: (a) pins the
    // emitted pairs to the pre-merge snapshot (the merge's manifest
    // rename waits on the gate, so the checkpoint can never observe the
    // batch's own hashes), and (b) cuts the lineage back to bNew so its
    // persisted blocks can be freed HERE instead of leaking into the
    // caller's session (SURVEY §10 documents that leak squeezing the
    // unified pool across a bench run). The merge's expensive phase —
    // reading the dirty buckets and writing the new bucket files — runs
    // CONCURRENTLY with the verify checkpoint (guide §2.6: the two
    // actions were only sequential because the driver called them
    // sequentially); publish-after-checkpoint order, and therefore the
    // crash story, is unchanged — a verify failure aborts the gate and
    // the index never moves. Deliberate fault-tolerance stance: losing
    // an executor after the checkpoint fails the job LOUDLY — the
    // lineage alternative would silently recompute against the
    // POST-merge index and emit different pairs (the batch observing
    // its own hashes), which is worse than a retry. Callers needing
    // executor-loss durability should write the pairs to a reliable
    // sink immediately (they are already materialized).
    try {
      val out = graft.pipeline.MutationOverlap.withGatedMutation(gate =>
        index.mergeAwaitingPublish(
          bNew.select(col("band"), col("band_hash"), col("__id").as("doc_id")),
          keys = Seq("band", "band_hash", "doc_id"), gate,
          precomputedDirty = Some(probedDirty))) {
        pairs.localCheckpoint(true)
      }
      out
    } finally {
      // finally, not fall-through: a merge failure (lease timeout,
      // commit IO) must not leak four persisted frames into the
      // caller's session — the pool squeeze SURVEY §10 documents
      bNew.unpersist()
      slice.unpersist()
      cand.unpersist()
      candIds.unpersist()
    }
  }

  /** Near-dup pairs via winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]]): candidates are document
    * pairs sharing at least `minShared` selected fingerprints, verified
    * by exact shingle Jaccard — the MOSS pipeline as a dedup operator,
    * sitting next to the MinHash-LSH ([[verifiedNearDupPairs]]) and
    * SimHash ([[simhashBandPairs]]) candidate generators. Winnowing's
    * guarantee makes candidates COMPLETE for any pair sharing a
    * `window + k - 1` token run (modulo the boilerplate cap below) —
    * LSH's per-pair collision probability becomes a structural
    * certainty.
    *
    * `maxDocFreq` drops fingerprints shared by more than that many
    * documents before pairing (MOSS's boilerplate filter): a
    * corpus-wide hot gram that survives winnowing would otherwise pair
    * every pair of its thousands of documents — the quadratic hot-key
    * blowup. With the cap, candidate count is bounded by
    * `maxDocFreq × |fingerprints|`. Near-dup pairs share MANY
    * fingerprints, so losing the boilerplate ones does not lose the
    * pair.
    *
    * Returns `(a_id, b_id, jaccard)`, a_id < b_id, Jaccard the exact
    * distinct-shingle measure of [[verifiedNearDupPairs]]. */
  def winnowNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      k: Int = 3,
      window: Int = 4,
      minShared: Int = 1,
      maxDocFreq: Int = 8): DataFrame =
    winnowVerifiedPairs(df, idCol, textCol, k, window, minShared, maxDocFreq,
      scoreName = "jaccard",
      score = (a, b) =>
        call_function("graft_shingle_jaccard", a, b, lit(k)),
      minScore = minJaccard)

  /** Near-CONTAINMENT pairs: document pairs where the k-shingle set of
    * one side is (almost) a SUBSET of the other's —
    * `max(|A∩B|/|A|, |A∩B|/|B|) >= minContainment` over distinct word
    * k-grams. This is the asymmetric dedup case symmetric Jaccard
    * systematically misses: a fragment quoted verbatim inside a much
    * larger document has `|A∩B|/|A∪B| ≈ |A|/|B| → 0` but containment
    * 1.0, and quote-inclusion / boilerplate-wrapping is a dominant
    * duplication mode in crawled training corpora. Candidates come
    * from shared winnow fingerprints (the MOSS selection — any shared
    * run of `window + k - 1` tokens shares a fingerprint, and winnow
    * fingerprints are LOCAL, so a fragment's fingerprints survive
    * inside the containing document; MinHash-LSH on the full signature
    * would miss exactly these skewed-size pairs because the small
    * side's bands are dominated by the large side's absent shingles).
    * Same doc-frequency cap and verify shape as
    * [[winnowNearDupPairs]]; pairs whose either side has no full
    * k-shingle are never emitted. Returns `(a_id, b_id, containment)`
    * with a_id < b_id, containment rounded to 6 dp. */
  def containmentNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minContainment: Double,
      k: Int = 3,
      window: Int = 4,
      minShared: Int = 1,
      maxDocFreq: Int = 8): DataFrame =
    winnowVerifiedPairs(df, idCol, textCol, k, window, minShared, maxDocFreq,
      scoreName = "containment",
      // fused codegen kernel — the Column form (two ngram-list builds +
      // array_distinct + array_intersect PER CANDIDATE PAIR) made the
      // verify stage the whole query's cost at 118k candidates
      score = (a, b) => round(
        call_function("graft_shingle_containment", a, b, lit(k)), 6),
      minScore = minContainment)

  private def winnowVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      window: Int,
      minShared: Int,
      maxDocFreq: Int,
      scoreName: String,
      score: (Column, Column) => Column,
      minScore: Double): DataFrame = {
    // pinned: the df-count pass and the collect pass both read this —
    // without the cache the winnow projection runs twice
    val fps = TextAnalysis.winnowFingerprints(df, idCol, textCol, k, window)
      .select(col(idCol).as("__id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // Cap BEFORE collecting: the doc-frequency count is a map-side-
    // combined aggregate (counters, never lists), and only fingerprints
    // inside [2, maxDocFreq] reach the collect_list — so no aggregation
    // buffer ever holds more than maxDocFreq ids, even for a
    // boilerplate fingerprint shared by millions of documents. (A
    // collect-then-filter would gather the hot fp's full list first —
    // the OOM this cap exists to prevent.) Pairs then emit narrowly
    // from each bounded sorted list.
    val keptFps = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxDocFreq))
      .select(col("fp"))
    val sortedIds = array_sort(col("__ids"))
    val pairList = flatten(transform(sortedIds, (a, i) =>
      transform(slice(sortedIds, i + 2, size(sortedIds)),
        b => struct(a.as("a_id"), b.as("b_id")))))
    val cand = fps.join(keptFps, Seq("fp"))
      .groupBy(col("fp"))
      .agg(collect_list(col("__id")).as("__ids"))
      .select(explode(pairList).as("__p"))
      .select(col("__p.a_id").as("a_id"), col("__p.b_id").as("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select(col("a_id"), col("b_id"))
    val txt = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__tid"), col(textCol).as("__t"))
    // shuffle-HASH, not sort-merge, for the text fetch: sort-merge
    // SORTS text-carrying rows, and the 60× probe measured ~6 GB of
    // sort spill from exactly this (r19 watch item). Build sides are
    // chosen so neither hash relation is ever pairs×text: the first
    // join builds on the SLIM pair set (two longs per row,
    // LSH-bounded); the second builds on the per-doc text projection —
    // one row per document, strictly smaller than the streamed
    // pairs-with-text side (pairs duplicate texts) and bounded per
    // partition by the standard shuffle-partition sizing rule. (A
    // build on pairs-with-text OOM'd the hash relation at the 60× leg;
    // measured before this shape landed.)
    val verified = cand.hint("shuffle_hash")
      .join(txt.select(col("__tid").as("a_id"), col("__t").as("__at")), "a_id")
      .join(txt.select(col("__tid").as("b_id"), col("__t").as("__bt"))
        .hint("shuffle_hash"), "b_id")
      .select(col("a_id"), col("b_id"),
        score(col("__at"), col("__bt")).as(scoreName))
      .filter(col(scoreName) >= minScore)
    // eager checkpoint cuts the lineage back to fps so its persisted
    // blocks free here instead of leaking into the caller's session —
    // and the unpersist runs in finally so a failure mid-checkpoint
    // frees them too
    try verified.localCheckpoint(true)
    finally fps.unpersist(blocking = false)
  }

  /** Build (or extend) a persistent hyperplane-LSH index over an
    * embedding column: one `(bucket, vec_id, vec)` row per vector in a
    * [[graft.pipeline.BucketedStateTable]] keyed `(bucket, vec_id)` but
    * BUCKETED on `bucket` — the embedding analogue of
    * [[indexNearDups]]. The vector rides in the index row, so probes
    * never need a separate store lookup (unlike the text index, where
    * verification text lives in the doc store). `planes` must match
    * between indexing and probing. */
  def indexEmbeddings(
      index: graft.pipeline.BucketedStateTable,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 12): Unit = {
    // pinned around the merge: the bucketing is a PROJECTION (the
    // mutation's plan-shape pin heuristic rightly skips it) but its
    // per-row cost is `planes` hyperplane dot products — without the
    // pin the merge's probe and bucket write each re-run it
    val rows = Similarity.lshBuckets(
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("vec_id"), col(vecCol).as("vec")),
      "vec", planes)
      .select(col("bucket"), col("vec_id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try index.merge(rows, keys = Seq("bucket", "vec_id"))
    finally rows.unpersist()
  }

  /** Incremental embedding near-dup detection: every cosine ≥
    * `threshold` pair involving at least one vector of `batch`, against
    * a corpus indexed by [[indexEmbeddings]] — then the batch joins the
    * index. Same contract as [[incrementalNearDups]]: the probe reads
    * ONLY the index buckets the batch's LSH buckets hash into, the
    * slice is pinned before the merge, candidates are
    * batch-proportional, and replaying an ingested batch re-emits the
    * same pairs over an unchanged index (keyed merge — at-least-once
    * safe). Returns `(a_id, b_id, cos_sim)` with a_id < b_id. */
  def incrementalEmbeddingNearDups(
      index: graft.pipeline.BucketedStateTable,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 12,
      maxBucketSize: Int = 4096): DataFrame = {
    // persisted, NOT eagerly counted: the first action over b is the
    // bucket probe inside readForKeys below, which materializes the pin
    val b = Similarity.lshBuckets(
      batch.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("vec_id"), col(vecCol).as("vec")),
      "vec", planes)
      .select(col("bucket"), col("vec_id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // persisted: the guarded join reads the slice twice (occupancy +
    // pairing) and a second bucket-pruned read would double probe I/O.
    // The probed bucket set is kept for the closing merge (same batch)
    val (slice0, probedDirty) =
      index.readForKeysProbed(b.select(col("bucket")), b.limit(0))
    val slice = slice0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // ONE occupancy action answers the cross AND intra hot-bucket
    // decisions (both sides of intra are b) — and doubles as the slice
    // pin's materialization pass
    val occ = occupancyMax(Seq(
      ("b", b, Seq("bucket")), ("slice", slice, Seq("bucket"))))
    // hot-bucket-guarded batch x index-slice pairing (same bounded
    // bipartite decomposition as the text path)
    val cross = bipartiteJoinPre(
      b.select(col("bucket"), col("vec_id").as("__nid"), col("vec").as("__nv")),
      "__nid", occ("b"),
      slice.select(col("bucket"), col("vec_id").as("__oid"), col("vec").as("__ov")),
      "__oid", occ("slice"),
      keys = Seq("bucket"), maxBucketSize = maxBucketSize)
      .filter(col("__oid") =!= col("__nid"))
      .select(least(col("__oid"), col("__nid")).as("a_id"),
        greatest(col("__oid"), col("__nid")).as("b_id"),
        Similarity.cosine(col("__nv"), col("__ov")).as("cos_sim"))
    // intra-batch pairs from the SAME persisted bucket rows, through
    // the same bounded bipartite decomposition — this used to call
    // [[embeddingNearDups]], which re-bucketed b (identical buckets:
    // deterministic hyperplanes), re-persisted the result, ran its own
    // occupancy action, and eagerly checkpointed the intra pairs; the
    // inline join reads b's cache and emits the identical pair set
    // ((x,y) meets exactly once per ordered pair in both the plain and
    // blocked shapes; least/greatest + the union-level distinct below
    // dedupe the orientation exactly as embeddingNearDups' own
    // least/greatest + distinct did)
    val intra = bipartiteJoinPre(
      b.select(col("bucket"), col("vec_id").as("__ai"), col("vec").as("__av")),
      "__ai", occ("b"),
      b.select(col("bucket"), col("vec_id").as("__bi"), col("vec").as("__bv")),
      "__bi", occ("b"),
      keys = Seq("bucket"), maxBucketSize = maxBucketSize)
      .filter(col("__ai") =!= col("__bi"))
      .select(least(col("__ai"), col("__bi")).as("a_id"),
        greatest(col("__ai"), col("__bi")).as("b_id"),
        Similarity.cosine(col("__av"), col("__bv")).as("cos_sim"))
    val pairs = cross.unionByName(intra)
      .filter(col("cos_sim") >= threshold)
      .distinct()
    // same discipline as incrementalNearDups: the checkpoint pins the
    // snapshot and lets b's persisted blocks free here, while the
    // merge's bucket write runs CONCURRENTLY behind a publish gate —
    // publish-after-checkpoint order (and the crash story) unchanged
    try {
      val out = graft.pipeline.MutationOverlap.withGatedMutation(gate =>
        index.mergeAwaitingPublish(b, keys = Seq("bucket", "vec_id"), gate,
          precomputedDirty = Some(probedDirty))) {
        pairs.localCheckpoint(true)
      }
      out
    } finally {
      // finally: a merge failure must not leak the persisted frames
      b.unpersist()
      slice.unpersist()
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    * connected components over the embedding-cosine ≥ `threshold` pair
    * graph ([[embeddingNearDups]] candidates), keep each component's
    * MINIMUM id, drop the rest. Component semantics matter: a chain
    * a~b~c collapses to one survivor even when cos(a, c) is below the
    * threshold — a greedy pairwise rule would keep two of the three and
    * re-admit the duplicate cluster the paper's clustering step exists
    * to remove.
    *
    * 100 TB: candidates form only inside LSH buckets (linear-ish, no
    * quadratic blowup), components run through [[clusterPairs]]'
    * hybrid union-find (driver for the typical sparse pair graph,
    * distributed pointer-jumping beyond the edge limit), and survivors
    * are one left-anti join on the id. */
  def semanticSurvivors(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 12,
      maxBucketSize: Int = 4096): DataFrame = {
    // Exact-duplicate collapse: rows sharing a vector VALUE are
    // interchangeable in every cosine comparison, so elect the min-id
    // row per distinct vector as representative, attach members to
    // their rep with a LINEAR edge set, and run LSH pairing over
    // DISTINCT vectors only. Connected components — and therefore
    // survivors — are provably unchanged: cos(x, ·) == cos(rep(x), ·)
    // for equal vectors, so every naive edge re-routes through the two
    // reps; the member edge itself uses the naive edge condition
    // cos(v, v) >= threshold (NULL for zero-norm vectors, which never
    // form edges in the naive graph either). This is what turns a
    // boilerplate-heavy corpus — a million copies of one page — from a
    // quadratic hot bucket into one groupBy plus a small rep problem.
    val dropped = clusterPairs(
        semanticEdges(df, idCol, vecCol, threshold, planes, maxBucketSize))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Component-equivalent edge frame behind [[semanticSurvivors]]
    * (exposed for specs: for N copies of one distinct vector this emits
    * N-1 member edges, not N(N-1)/2 pairs). */
  private[graft] def semanticEdges(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int,
      maxBucketSize: Int): DataFrame = {
    val v = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // pinned: the rep table is read by BOTH the pair stage (which is
    // eager — embeddingNearDups' adaptive probe) and the member join;
    // unpersisted it would re-run the vector-keyed groupBy per use
    val reps = v.groupBy(col("__v")).agg(min(col("__id")).as("__rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val repPairs = embeddingNearDups(
      reps.select(col("__rep"), col("__v")), "__rep", "__v",
      threshold, planes, maxBucketSize)
      .select(col("a_id"), col("b_id"))
    // member join: reps is |distinct vectors| rows — broadcast when the
    // bounded probe allows (dedup-heavy corpora collapse most rows onto
    // few reps), shuffle join otherwise (the 100 TB general case).
    // The cap is BYTE-aware, not row-only: rep rows carry the full
    // embedding vector, so a row-count cap alone would green-light a
    // multi-GB broadcast at production dims (768 floats ≈ 3 KB/row ×
    // 4M rows ≈ 12 GB — past Spark's 8 GB broadcast limit and a driver
    // OOM). One row probes the dim; the row cap is 512 MB divided by
    // the estimated UnsafeRow width, itself bounded by the 1M-row cap
    // every other narrow-frame call site uses.
    // probe a NON-NULL vector: a null first row would fall through to
    // the 32-byte default and re-admit a multi-GB broadcast of wide
    // vectors under the permissive row-only cap
    val vecBytes = reps.select(col("__v")).filter(col("__v").isNotNull).take(1) match {
      case Array(r) if !r.isNullAt(0) =>
        val elemBytes = reps.schema("__v").dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _) => math.max(4L, et.defaultSize.toLong)
          case _ => 8L
        }
        32L + elemBytes * r.getSeq[Any](0).size
      case _ => 32L
    }
    val byteCapRows = math.max(1L, (512L << 20) / (vecBytes + 16L))
    val repsSide =
      if (fitsBroadcast(reps, math.min(1000000L, byteCapRows))) broadcast(reps) else reps
    // rep is the group minimum, so (rep, member) is already ordered
    val memberEdges = v.join(repsSide, Seq("__v"))
      .filter(col("__id") =!= col("__rep") &&
        Similarity.cosine(col("__v"), col("__v")) >= threshold)
      .select(col("__rep").as("a_id"), col("__id").as("b_id"))
    // materialize the edge set while reps is still pinned, then release
    // (finally: a failure mid-checkpoint must not leak the pinned reps)
    try repPairs.unionByName(memberEdges).localCheckpoint(true)
    finally reps.unpersist(blocking = false)
  }

  /** Semantic decontamination: drop every corpus row whose embedding has
    * cosine ≥ `threshold` against ANY benchmark vector — the
    * embedding-space counterpart of [[graft.ops.Corpus.decontaminate]]'s
    * shingle overlap (modern eval-leak checks must catch paraphrases,
    * which share meaning but not 8-grams). Candidates come from a
    * sign-LSH bucket equi-join under ONE shared hyperplane set
    * (`graft_lsh_bucket` derives plane components deterministically from
    * (plane, dim), so both sides bucket identically with no shipped
    * matrix) — never corpus × benchmark all-pairs. Exact cosine verifies
    * every candidate: precision is exact, recall is the LSH collision
    * probability (an identical or near-identical leak always collides).
    *
    * 100 TB: eval benchmarks are small by construction, so the bucketed
    * benchmark broadcasts after a bounded `limit(n+1).count()` probe
    * (corpus-sized "benchmarks" fall back to a shuffle join with
    * identical output). The contaminated-id set gets the same bounded
    * probe before the anti join — when it is small (the normal case)
    * the corpus is never shuffled AT ALL: narrow bucket map, broadcast
    * candidate join, broadcast anti join. */
  def decontaminateSemantic(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      benchmark: DataFrame,
      benchVecCol: String,
      threshold: Double,
      planes: Int = 12,
      bands: Int = 1,
      maxBroadcastRows: Long = 1_000_000L): DataFrame = {
    // PERSISTED across the broadcast probe and the anti-join: the hit
    // set is the whole corpus-scale LSH + verify pipeline, and the two
    // actions would otherwise each run it in full (the probe
    // discipline adaptiveBipartiteJoin documents)
    val contaminated = semanticHits(corpus, idCol, vecCol,
        benchmark, benchVecCol, threshold, planes, bands, maxBroadcastRows)
      .select(col(idCol)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // post-aggregation stats are opaque to the planner (a sort-merge
    // anti join here would shuffle the WHOLE corpus), so probe and hint
    // explicitly, exactly like the candidate side
    val drop =
      if (fitsBroadcast(contaminated, maxBroadcastRows)) broadcast(contaminated)
      else contaminated
    // the persisted ids stay pinned while the RETURNED lazy frame is
    // alive — the same caller-visible lifetime as every persisted
    // candidate side in this file; Bench's cache hygiene (and any
    // long-lived session's) reclaims them between queries
    corpus.join(drop, Seq(idCol), "left_anti")
  }

  /** Graded report form of [[decontaminateSemantic]]: for every corpus
    * row with at least one benchmark vector within `threshold` cosine,
    * the number of such hits and the strongest similarity among them —
    * the gray-zone review tool (real decontamination reviews threshold
    * on evidence strength and inspect borderline documents rather than
    * dropping outright). Same LSH candidate generation and broadcast
    * regime; rows with no qualifying hit are absent. The aggregate
    * combines map-side (count + max over a per-id handful of hits). */
  def semanticContaminationReport(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      benchmark: DataFrame,
      benchVecCol: String,
      threshold: Double,
      planes: Int = 12,
      bands: Int = 1,
      maxBroadcastRows: Long = 1_000_000L): DataFrame =
    semanticHits(corpus, idCol, vecCol,
        benchmark, benchVecCol, threshold, planes, bands, maxBroadcastRows)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), max(col("__cos")).as("max_cos"))

  private def fitsBroadcast(df: DataFrame, maxRows: Long): Boolean = {
    // clamp BEFORE toInt: a maxRows above Int.MaxValue would wrap
    // negative, turn the probe into limit(2), and green-light
    // broadcasting an arbitrarily large frame
    val probe = math.min(maxRows, Int.MaxValue - 1L).toInt.max(1) + 1
    df.limit(probe).count() <= maxRows
  }

  /** Shared candidate path for the semantic-contamination operators:
    * `(idCol, __cos)` for every (corpus row, distinct benchmark vector)
    * pair that collides in a sign-LSH sub-bucket AND verifies at ≥
    * `threshold` exact cosine.
    *
    * `bands` trades work for recall exactly as in
    * [[Similarity.lshTopK]]: ONE `planes × bands`-bit signature per
    * vector sliced into `bands` independent sub-buckets, a pair
    * considered if ANY band collides (collision probability per pair
    * rises from `p^1` to `1-(1-p)^bands` where `p = (1-θ/π)^planes`) —
    * identical vectors still collide in EVERY band, so exact-copy
    * recall stays 1 at any setting. A pair colliding in several bands
    * is deduplicated BY VECTOR VALUE before scoring, so `n_hits` counts
    * distinct benchmark vectors (a duplicated eval row is not twice the
    * evidence) at every `bands` setting. */
  private def semanticHits(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      benchmark: DataFrame,
      benchVecCol: String,
      threshold: Double,
      planes: Int,
      bands: Int,
      maxBroadcastRows: Long): DataFrame = {
    val total = planes * bands
    require(planes > 0 && bands > 0 && total <= 63,
      s"planes*bands must be in [1, 63], got $planes*$bands")
    def banded(df: DataFrame, keep: Seq[String]): DataFrame =
      Similarity.bandSubBuckets(df, keep, planes, bands)
    val c = banded(Similarity.lshBuckets(
      corpus.select(col(idCol), col(vecCol).as("__cv")), "__cv", total),
      Seq(idCol, "__cv"))
    // Hot-bucket guard, benchmark side: a benchmark containing the same
    // vector many times (duplicated eval rows — exactly the boilerplate
    // regime) would multiply every colliding corpus row by the
    // duplicate count. The post-join dedup is already BY VECTOR VALUE,
    // so collapsing identical (band, sub, __bv) rows before the join
    // preserves the output bit-for-bit while making the per-bucket
    // candidate fan-out proportional to DISTINCT benchmark vectors.
    val bRaw = banded(Similarity.lshBuckets(
      benchmark.select(col(benchVecCol).as("__bv")), "__bv", total),
      Seq("__bv")).distinct()
    // Broadcast decision from the RAW benchmark row count: |bRaw| ≤
    // benchmark rows × bands (each row bands to at most `bands` rows;
    // distinct only shrinks), so the conservative bound never
    // broadcasts anything the old probe would refuse — and the probe
    // stops evaluating the banding + its distinct EXCHANGE a second
    // time per call (the recall key paid that four times per run). A
    // heavily-duplicated benchmark may now take the shuffle join where
    // the old probe broadcast its post-distinct rows — same output,
    // and the guarded regime (huge benchmark) is where the cheap probe
    // matters most.
    val b = if (fitsBroadcast(benchmark.select(col(benchVecCol)),
        math.max(1L, maxBroadcastRows / bands))) broadcast(bRaw)
      else bRaw
    c.join(b, Seq("band", "sub"))
      .dropDuplicates(idCol, "__bv")
      .select(col(idCol),
        Similarity.cosine(col("__cv"), col("__bv")).as("__cos"))
      .filter(col("__cos") >= threshold)
  }

  /** Embedding near-duplicates: cosine ≥ threshold among LSH-bucketed
    * candidates (delegates bucketing to [[Similarity.lshBuckets]]).
    *
    * Hot-bucket guard: a degenerate embedding distribution (mass-
    * duplicated boilerplate — precisely the dedup workload) concentrates
    * rows in ONE sign-LSH bucket, and a plain intra-bucket self-join
    * would land the whole quadratic bucket on a single shuffle task.
    * Buckets above `maxBucketSize` are decomposed into a blocked
    * self-join: rows get a group `g ∈ [0, G)` by id hash with
    * `G = ceil(occupancy / maxBucketSize)`; the left side covers group
    * pairs `(g, g..G-1)`, the right side `(0..g, g)`, so every unordered
    * group pair co-locates on exactly one `(bucket, gl, gr)` key and no
    * task scores more than ~`maxBucketSize²` candidate pairs. The PAIR
    * SET is provably identical to the naive join — an all-duplicates
    * bucket's output is inherently quadratic, but the work now spreads
    * over `G(G+1)/2` tasks instead of one (no task-level straggler or
    * OOM at 100 TB). Cold buckets (`G = 1`) degenerate to the original
    * single-copy join. Occupancy is a map-side-combined aggregate with
    * at most `2^planes` rows, broadcast back when `planes` bounds it
    * below ~2 M rows. */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 12,
      maxBucketSize: Int = 4096): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    // PINNED for the whole operator: the adaptive probe is an eager
    // action and the pair join reads b twice (both join sides) — an
    // unpersisted b would re-run the hyperplane bucketing (and the
    // upstream scan) once per use. The winnowVerifiedPairs discipline:
    // persist, run, eager-checkpoint the small pair output, unpersist.
    val b = Similarity.lshBuckets(
      // null vectors can never pair (null-unsafe equi-join) but their
      // NULL bucket WOULD count as a real group in the occupancy probe:
      // enough of them (a partially failed embedding job) flipped the
      // operator onto the blocked decomposition for rows that produce
      // zero pairs — filter like indexEmbeddings/incrementalEmbeddingNearDups
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("__id"), col(vecCol).as("__v")), "__v", planes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
    // Adaptive, like the incremental paths: one tiny aggregate (bucket
    // cardinality <= 2^planes rows) decides whether any bucket is hot
    // (and doubles as the materialization pass for the persisted b).
    // The common cold case keeps the PLAIN bucket self-join — no
    // occupancy join, no group explodes, no 3-key join — which is the
    // blocked decomposition at G=1, so the pair set is identical by
    // construction.
    val maxOccRow = b.groupBy("bucket").agg(count(lit(1)).as("__occ"))
      .agg(max(col("__occ"))).first()
    val maxOcc = if (maxOccRow.isNullAt(0)) 0L else maxOccRow.getLong(0)
    if (maxOcc <= maxBucketSize) {
      val l = b.select(col("bucket"), col("__id").as("__aid"), col("__v").as("a_v"))
      val r = b.select(col("bucket"), col("__id").as("__bid"), col("__v").as("b_v"))
      val pairs = l.join(r, Seq("bucket"))
        .filter(col("__aid") =!= col("__bid"))
        .select(least(col("__aid"), col("__bid")).as("a_id"),
          greatest(col("__aid"), col("__bid")).as("b_id"),
          Similarity.cosine(col("a_v"), col("b_v")).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
        .distinct()
      return pairs.localCheckpoint(true)
    }
    val occRaw = b.groupBy("bucket").agg(count(lit(1)).as("__occ"))
    val occ = if (planes <= 21) broadcast(occRaw) else occRaw
    // __ngroups / __g, NOT __G/__g: column resolution is case-
    // INsensitive by default, so "__G" and "__g" would be one column
    // and the second withColumn would silently replace the first
    val grouped = b.join(occ, Seq("bucket"))
      .withColumn("__ngroups",
        greatest(lit(1L), ceil(col("__occ") / maxBucketSize)).cast("int"))
      .withColumn("__g",
        pmod(xxhash64(col("__id")), col("__ngroups")).cast("int"))
    // distinct names per side + explicit condition: a usingColumns
    // self-join over same-lineage frames can resolve both sides to one
    // attribute and silently drop the cross-group keys
    val l = grouped.select(col("bucket").as("__bkl"), col("__g").as("__gll"),
      explode(sequence(col("__g"), col("__ngroups") - 1)).as("__grl"),
      col("__id").as("__aid"), col("__v").as("a_v"))
    val r = grouped.select(col("bucket").as("__bkr"),
      explode(sequence(lit(0), col("__g"))).as("__glr"),
      col("__g").as("__grr"),
      col("__id").as("__bid"), col("__v").as("b_v"))
    val pairs = l.join(r, col("__bkl") === col("__bkr") &&
        col("__gll") === col("__glr") && col("__grl") === col("__grr"))
      .filter(col("__aid") =!= col("__bid"))
      .select(least(col("__aid"), col("__bid")).as("a_id"),
        greatest(col("__aid"), col("__bid")).as("b_id"),
        Similarity.cosine(col("a_v"), col("b_v")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
    pairs.localCheckpoint(true)
    } finally b.unpersist(blocking = false) // leak-safe on any failure
  }
}
