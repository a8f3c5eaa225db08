package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * Parity ops (SURVEY.md §2.4 A4/A5): the reference's keep-first-after-
  * sort dedups (cnv.py:372-376, mci_clinical_variant_merge.py:263-279)
  * — pandas relies on implicit file order; here every dedup takes an
  * EXPLICIT total order so results are deterministic under any
  * partitioning (SURVEY.md §7.4 item 1).
  *
  * Scale ops (north star): exact + near-duplicate detection for
  * training-data pipelines — hash dedup, MinHash/LSH, SimHash — all
  * built on a portable md5-derived 60-bit hash so a SQL oracle can
  * reproduce them bit-for-bit.
  */
object Dedup {

  /** Keep exactly one row per key, the first under `order`.
    * Callers must make `order` a total order (include a unique
    * tiebreaker) or results are nondeterministic — same caveat the
    * reference silently ignores (cnv.py:372).
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** A5b: per key keep the LONGEST interval (cnv.py:375-376). */
  def keepLongest(df: DataFrame, keys: Seq[String],
                  start: String, end: String, tiebreak: Seq[Column]): DataFrame =
    keepFirst(df, keys, ((col(end) - col(start)).desc +: tiebreak))

  /** A5c: megaMAF merge-dedup — prefer clinically-reported rows
    * (mci:263-279: custom sort puts `Not Reported`/null significance
    * last, then keep first per 7-col variant key). */
  def preferReported(df: DataFrame, keys: Seq[String],
                     significance: String, tiebreak: Seq[Column],
                     lastValue: String = "Not Reported"): DataFrame = {
    val rank = when(col(significance).isNull ||
      col(significance) === lastValue, 1).otherwise(0)
    keepFirst(df, keys, rank.asc +: tiebreak)
  }

  // ------------------------------------------------------------------
  // North-star: content dedup at scale
  // ------------------------------------------------------------------

  import graft.functions.ColumnFns.hash60
  import graft.functions.TextFns

  /** Exact dedup: one representative (min of `idCol`) per distinct
    * content hash. Single hash-partitioned aggregation; no window, no
    * sort — the cheapest possible shape at 100 TB.
    */
  def exactByContent(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("content_hash", md5(col(textCol)))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Normalized content signatures `(doc_id, sig)` — the rows an
    * incremental-dedup SIGNATURE STORE holds (md5 over
    * `TextFns.normalizeText`, the q_d_normdedup normalization, so an
    * external engine can replay them). */
  def contentSignatures(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      md5(TextFns.normalizeText(col(textCol))).as("sig"))

  /** Materialize the signature store BUCKETED BY `sig`: the one-time
    * shuffle that makes every later incremental batch check
    * exchange-free on the corpus side (see `incrementalExact`). Size
    * `buckets` so a bucket ≈ one task's memory budget at corpus
    * scale. */
  def writeSignatureStore(docs: DataFrame, textCol: String, idCol: String,
                          table: String, path: String,
                          buckets: Int): Unit =
    graft.sources.Storage.writeBucketed(
      contentSignatures(docs, textCol, idCol), table, path,
      bucketKeys = Seq("sig"), buckets = buckets)

  /** Incremental exact dedup — the operational shape a 100 TB corpus
    * dedup actually runs as: the already-ingested corpus lives in a
    * signature store bucketed by `sig` (`writeSignatureStore`), and
    * each arriving batch checks ONLY itself against it. The store-side
    * min-id aggregation and its join leg satisfy their distribution
    * from the bucketed scan, so the corpus is NEVER re-shuffled
    * (PlanSpec pins exactly one Exchange — the batch side); per-batch
    * cost scales with the batch plus one streamed pass of the store
    * partitions it probes, not with corpus² or corpus-reshuffles.
    * Returns (doc_id, dup_of, sig): each batch doc whose normalized
    * content already exists, with the smallest stored owner id. */
  def incrementalExact(batch: DataFrame, textCol: String, idCol: String,
                       store: DataFrame): DataFrame = {
    val owners = store.groupBy("sig").agg(min(col("doc_id")).as("dup_of"))
    contentSignatures(batch, textCol, idCol)
      .join(owners, Seq("sig"))
      .select(col("doc_id"), col("dup_of"), col("sig"))
  }

  /** MinHash signatures: k permutations approximated as
    * (a_i * h + b_i) mod p over word-shingle hashes — one native
    * kernel call per row (graft.plans.MinhashSignature; the HOF chain
    * it replaces is kept in TextFns for oracle-parity testing). Values
    * remain reproducible in portable SQL (md5-derived hash60).
    */
  def minhashSignature(df: DataFrame, textCol: String,
                       numHashes: Int = 16, shingleSize: Int = 3): DataFrame =
    df.withColumn("__sig",
        TextFns.minhashSignatureNative(col(textCol), numHashes, shingleSize))
      .select(df.columns.toSeq.map(col) ++ (0 until numHashes).map(i =>
        col("__sig").getItem(i).as(s"mh_$i")): _*)

  /** LSH band rows `(doc_id, band, bucket)` — the near-dup analog of
    * [[contentSignatures]]: what a BAND-SIGNATURE STORE holds so later
    * batches can LSH-probe the corpus without re-sharding it. Docs
    * with fewer tokens than the shingle size are filtered (all-null
    * signature — a shared null bucket would pair every short doc with
    * every other). Buckets are `hash60` over the band's minhash rows,
    * replayable in portable SQL (the q_d_lsh oracle recipe). */
  def bandSignatures(df: DataFrame, textCol: String, idCol: String,
                     numHashes: Int = 16, bands: Int = 4,
                     shingleSize: Int = 3): DataFrame =
    bandRows(df, textCol, idCol, numHashes, bands, shingleSize,
      withMh = false)

  /** [[bandSignatures]] plus the full k-slot signature riding along as
    * `mh: array<long>` — what a SIGNATURE-CARRYING store holds so the
    * cross-batch near-dup confirm is self-contained (the stored TEXT
    * is gone; the minhash-agreement estimator — unbiased for Jaccard,
    * ±1/√k — stands in for the exact confirm, exactly as the
    * streaming twin's store does). */
  private[graft] def bandSignaturesMh(df: DataFrame, textCol: String,
                                      idCol: String, numHashes: Int = 16,
                                      bands: Int = 4,
                                      shingleSize: Int = 3): DataFrame =
    bandRows(df, textCol, idCol, numHashes, bands, shingleSize,
      withMh = true)

  private[graft] def bandRows(df: DataFrame, textCol: String, idCol: String,
                              numHashes: Int, bands: Int, shingleSize: Int,
                              withMh: Boolean,
                              withSet: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    // guard BEFORE the signature projection, on the cheap token count —
    // a post-hoc filter on the signature alias would be pushdown-
    // substituted into the projection and the kernel would run twice
    val withSig = df
      .filter(size(TextFns.tokens(col(textCol))) >= shingleSize)
      .withColumn("__sig",
        TextFns.minhashSignatureNative(col(textCol), numHashes, shingleSize))
      .select(
        // the shingle set rides as the compiled hash60 n-gram kernel's
        // distinct sorted output — Jaccard is hash-family-invariant
        // (the DuckDB replay uses string shingles), and the
        // interpreted xxhash64 HOF chain this replaces dominated the
        // exact-confirm ingest at scale (q_d_ingest3 sf100: 716.7 s
        // in-suite pre-fix — the round-15 sweep's slowest row)
        col(idCol).as("doc_id") +: col("__sig") +:
          (if (withSet) Seq(sort_array(array_distinct(
            TextFns.ngramHashesNative(col(textCol), shingleSize)))
            .as("__ss")) else Seq.empty) ++:
          (0 until numHashes).map(i =>
            col("__sig").getItem(i).as(s"mh_$i")): _*)
    val carried = col("__sig") +:
      (if (withSet) Seq(col("__ss")) else Seq.empty)
    val banded = withSig.select(col("doc_id") +: (carried :+ explode(array(
      (0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash60(concat_ws("_",
            (b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*))
            .as("bucket"))
      }: _*)).as("bb")): _*)
    val out = Seq(col("doc_id"), col("bb.band"), col("bb.bucket")) ++
      (if (withMh) Seq(col("__sig").as("mh")) else Seq.empty) ++
      (if (withSet) Seq(col("__ss").as("sset")) else Seq.empty)
    banded.select(out: _*)
  }

  /** Materialize the LSH band-signature store BUCKETED BY (band,
    * bucket) — [[writeSignatureStore]] generalized to near-dup: the
    * one-time shuffle after which every incremental batch probe
    * ([[incrementalLsh]]) reads the corpus side exchange-free. */
  def writeBandSignatureStore(docs: DataFrame, textCol: String,
                              idCol: String, table: String, path: String,
                              buckets: Int, numHashes: Int = 16,
                              bands: Int = 4, shingleSize: Int = 3,
                              withSignatures: Boolean = false,
                              withShingleSets: Boolean = false): Unit = {
    // withSignatures: carry the k-slot minhash alongside each band row
    // so later batches can CONFIRM (minhash agreement), not just
    // collide — required by [[lshIngestBatch]]; plain probes
    // ([[incrementalLsh]]) work against either layout.
    // withShingleSets additionally carries the SORTED hashed shingle
    // set (`sset: array<long>`) so the cross-batch confirm can be the
    // EXACT n-gram Jaccard — everywhere (`lshIngestBatch(confirm =
    // "exact")`) or only inside the estimator's decision band
    // (`confirm = "hybrid"`, the measured-census router) — the
    // tight-tolerance knobs for pipelines where the estimator's
    // ±2/√k decision window around minJaccard (see the measured
    // sizing rule on lshIngestBatch) is too loose. COST: the set is
    // duplicated per band row, so the store grows by
    // bands × |shingles| longs per doc versus numHashes longs — pay
    // it only when the tolerance demands exactness.
    val rows =
      if (withShingleSets)
        bandRows(docs, textCol, idCol, numHashes, bands, shingleSize,
          withMh = true, withSet = true)
      else if (withSignatures)
        bandSignaturesMh(docs, textCol, idCol, numHashes, bands, shingleSize)
      else bandSignatures(docs, textCol, idCol, numHashes, bands, shingleSize)
    graft.sources.Storage.writeBucketed(rows,
      table, path, bucketKeys = Seq("band", "bucket"), buckets = buckets)
    // the LSH hyperparameters are part of the store's SEMANTIC schema:
    // rows written under a different (numHashes, bands, shingleSize)
    // are column-compatible but mean different things (band hashes
    // don't collide across recipes; getItem past a shorter stored mh
    // yields null), so they ride as table properties and every
    // append/ingest REQUIRES a match — drift fails loudly instead of
    // silently missing near-dups
    docs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES (" +
        s"'graft.lsh.numHashes'='$numHashes','graft.lsh.bands'='$bands'," +
        s"'graft.lsh.shingleSize'='$shingleSize'," +
        s"'graft.lsh.hashFamily'='${TextFns.hashFamily}')")
  }

  /** Require the caller's LSH hyperparameters to match the ones the
    * store was written with (table properties set by
    * [[writeBandSignatureStore]]). Tables carrying NO `graft.lsh.*`
    * properties at all (hand-built layouts) are let through — the
    * properties are the guard, not a gate on legacy layouts. But a
    * table that HAS recipe properties must also carry a matching
    * `hashFamily` tag: a store whose properties predate family
    * tagging was written by a pre-fix build of THIS library under a
    * different minhash coefficient family, and its stored signatures
    * would silently never agree with batch signatures — the exact
    * quiet-miss failure the guard exists to prevent. */
  private def requireLshParams(spark: org.apache.spark.sql.SparkSession,
                               table: String, numHashes: Int, bands: Int,
                               shingleSize: Int): Unit = {
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).properties
    def check(key: String, got: Int): Unit =
      props.get(s"graft.lsh.$key").foreach(stored =>
        require(stored == got.toString,
          s"$table was written with $key=$stored but the caller passed " +
            s"$got — appending under a different LSH recipe would write " +
            "schema-compatible rows that silently never collide"))
    check("numHashes", numHashes)
    check("bands", bands)
    check("shingleSize", shingleSize)
    if (props.keys.exists(_.startsWith("graft.lsh."))) {
      val fam = props.getOrElse("graft.lsh.hashFamily",
        "<untagged — predates hash-family versioning>")
      require(fam == TextFns.hashFamily,
        s"$table holds minhash signatures from hash family $fam but " +
          s"this build computes ${TextFns.hashFamily} — stored and batch " +
          "signatures would silently never agree (near-dups never " +
          "confirm); rewrite the store with writeBandSignatureStore")
    }
  }

  /** Fold a new batch's band rows INTO an existing band-signature
    * store — the append leg that closes the operational loop
    * `probe → accept → append` ([[incrementalLsh]] being the probe):
    * survivors of a batch probe become part of the corpus the NEXT
    * batch probes, without rewriting the store. Appends under the
    * table's own catalog bucket spec ([[graft.sources.Storage
    * .appendBucketed]]), so probes stay exchange-free on the store
    * side across generations (PlanSpec pins this on an appended
    * store). Each append adds ≤ `buckets` files; run
    * [[graft.sources.Storage.compactBucketed]] every N batches to
    * fold the small files back to one per bucket (probe-plan
    * invariance pinned in StorageSpec). */
  def appendBandSignatures(batch: DataFrame, textCol: String,
                           idCol: String, table: String,
                           numHashes: Int = 16, bands: Int = 4,
                           shingleSize: Int = 3): Unit = {
    requireLshParams(batch.sparkSession, table, numHashes, bands, shingleSize)
    // layout inferred from the TABLE (shingle-set-carrying,
    // signature-carrying, or plain) so appended generations can never
    // fork the store's schema
    val cols = batch.sparkSession.table(table).columns
    val rows =
      if (cols.contains("sset"))
        bandRows(batch, textCol, idCol, numHashes, bands, shingleSize,
          withMh = true, withSet = true)
      else if (cols.contains("mh"))
        bandSignaturesMh(batch, textCol, idCol, numHashes, bands, shingleSize)
      else bandSignatures(batch, textCol, idCol, numHashes, bands, shingleSize)
    graft.sources.Storage.appendBucketed(batch.sparkSession, rows, table)
  }

  /** Incremental NEAR-dup probe result: `(doc_id, cand_id,
    * band_matches)` batch-vs-corpus candidates, plus the oversize
    * store buckets excluded from pairing (the [[LshCandidates]]
    * no-silent-drop contract — recall past `maxBucket` is not
    * guaranteed and the caller must see where). */
  final case class IncrementalLshResult(pairs: DataFrame,
                                        droppedBuckets: DataFrame)

  /** Incremental MinHash-LSH near-dedup — the operational 100 TB
    * shape, completing what [[incrementalExact]] does for exact
    * signatures: the ingested corpus keeps a band-signature store
    * bucketed by (band, bucket) ([[writeBandSignatureStore]]); an
    * arriving batch computes its own band rows and equi-joins the
    * store on the bucketing keys. The store-side bucket-size guard
    * (a whole-partition window over (band, bucket)) AND the join leg
    * both satisfy their distribution from the bucketed scan, so the
    * corpus is never re-shuffled and never scanned twice (PlanSpec
    * pins exactly two Exchanges: the batch band shuffle and the
    * batch-sized pair aggregation). Per-batch cost scales with the
    * batch plus the store partitions it probes.
    *
    * Returns candidates with band agreement counts — feed to a
    * Jaccard confirm exactly like [[minhashLshCandidates]] output.
    * `maxBucket` excludes degenerate store buckets (boilerplate
    * corpora) from pairing; they are REPORTED, not dropped silently. */
  def incrementalLsh(batch: DataFrame, textCol: String, idCol: String,
                     store: DataFrame, numHashes: Int = 16, bands: Int = 4,
                     shingleSize: Int = 3,
                     maxBucket: Int = 1000): IncrementalLshResult = {
    // bucket sizes via an aggregated oversize census (r17): the old
    // count-window form read the store once but SORTED every bucket
    // partition's full rows; the census re-scan is column-pruned to
    // (band, bucket) — negligible I/O — and the probe side streams
    // unsorted through a shuffle_hash anti join (the census is
    // pathology-sized by construction: one row per bucket past
    // maxBucket)
    val dropped = store.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsize"))
      .filter(col("__bsize") > maxBucket)
      .select(col("band"), col("bucket"),
        col("__bsize").cast("int").as("size"))
    val okStore = store
      .join(dropped.select("band", "bucket").hint("shuffle_hash"),
        Seq("band", "bucket"), "left_anti")
      .select(col("band"), col("bucket"), col("doc_id").as("cand_id"))
    val batchBands =
      bandSignatures(batch, textCol, idCol, numHashes, bands, shingleSize)
    val pairs = batchBands.join(okStore, Seq("band", "bucket"))
      .groupBy(col("doc_id"), col("cand_id"))
      .agg(count(lit(1)).as("band_matches"))
    IncrementalLshResult(pairs, dropped)
  }

  /** One ingested batch's outcome: the docs that entered the corpus
    * (and whose band rows were appended to the store), the cross-batch
    * near-dup report — `(doc_id, cand_id, agree)` (agreeing signature
    * slots) under the default estimator confirm, `(doc_id, cand_id,
    * jaccard)` (exact n-gram Jaccard) under `confirm = "exact"`,
    * `(doc_id, cand_id, agree, jaccard)` under `confirm = "hybrid"`
    * (jaccard is null for pairs the estimator fast path decided — the
    * exact kernel never ran for them) — and the oversize store buckets
    * excluded from screening (the no-silent-drop contract). */
  final case class IngestResult(survivors: DataFrame,
                                crossBatchDups: DataFrame,
                                droppedBuckets: DataFrame)

  /** Integer agreement cuts for the hybrid confirm: a collided pair
    * with `agree ≥ hi` is a duplicate by the estimator alone, one with
    * `agree < lo` is a non-duplicate by the estimator alone, and the
    * band `lo ≤ agree < hi` routes to the exact shingle-set kernel.
    * `window` is the half-width in Jaccard units around `minJaccard`;
    * NaN (the default) resolves to `4/√numHashes` — TWICE the measured
    * true-Jaccard error window of the estimator (ConfirmCensus: FP/FN
    * confined to ±2/√k of the threshold), so a pair whose true J lies
    * inside the error window still routes to exact even under a 2σ
    * estimator deviation; the residual escape probability per pair is
    * the Φ(−4) ≈ 3·10⁻⁵ binomial tail. Integer boundaries round
    * OUTWARD (est exactly at t±w routes to exact), and both the engine
    * and the SQL oracle consume these same two integers, so parity is
    * structural. */
  def hybridCuts(numHashes: Int, minJaccard: Double,
                 window: Double = Double.NaN): (Long, Long) = {
    val w = if (window.isNaN) 4.0 / math.sqrt(numHashes.toDouble) else window
    require(w >= 0.0, s"hybrid window $w must be non-negative")
    val lo = math.ceil((minJaccard - w) * numHashes - 1e-9).toLong.max(0L)
    val hi = math.floor((minJaccard + w) * numHashes + 1e-9).toLong + 1L
    (lo, hi)
  }

  /** Cross-batch confirm shared by the ingest loop's two substrates —
    * batch ([[lshIngestBatch]]) and streaming
    * (`StreamOps.minhashLshDedupBatchStep`): reduce collided (batch
    * band row × stored band row) pairs — batch side carrying `mh` (and
    * `sset` when the mode needs it), store side `__smh` (/`__sss`) —
    * to confirmed duplicate pairs `(doc_id, cand_id, …evidence)` under
    * the selected confirm mode. The SAME code runs on both engines, so
    * batch/stream confirm parity is structural, not coincidental
    * (StreamOpsSpec pins it end-to-end per mode). Evidence columns per
    * mode are the [[IngestResult.crossBatchDups]] contract. */
  private[graft] def confirmedDupPairs(collided: DataFrame, numHashes: Int,
                                       minJaccard: Double, confirm: String,
                                       hybridWindow: Double): DataFrame = {
    val minAgree = math.ceil(minJaccard * numHashes).toLong
    val agree = (0 until numHashes).map(i =>
      when(col("mh").getItem(i) === col("__smh").getItem(i), 1L)
        .otherwise(0L)).reduce(_ + _)
    // shared exact-confirm pieces (exact + hybrid): the early-abort
    // merge kernel abandons a candidate once the required intersection
    // (J ≥ t ⟺ inter ≥ t/(1+t)·(|a|+|b|)) is unreachable — same
    // discipline as prefixFilterPairs' verify. Lazy Columns: the
    // estimator branch never resolves them, so a set-less store is
    // fine under confirm = "estimator".
    val sz = size(col("sset")) + size(col("__sss"))
    val req = ceil(lit(minJaccard / (1.0 + minJaccard)) * sz
      - lit(1e-12) * sz).cast("int")
    confirm match {
      case "exact" =>
        collided
          .withColumn("__i",
            sortedOverlapAtLeast(col("sset"), col("__sss"), req))
          .withColumn("__j", col("__i").cast("double") / (sz - col("__i")))
          .filter(col("__i") > 0 && col("__j") >= minJaccard)
          .groupBy(col("doc_id"), col("cand_id"))
          .agg(round(max(col("__j")), 6).as("jaccard"))
      case "hybrid" =>
        // two-tier: the estimator decides pairs strictly outside the
        // ±window agreement band around minJaccard (measured safe —
        // ConfirmCensus confines estimator errors to ±2/√k of the
        // threshold in true-Jaccard; the default window doubles that,
        // see hybridCuts); ONLY band pairs evaluate the exact kernel.
        // The `when` guard is load-bearing: CaseWhen codegen evaluates
        // the kernel branch lazily, so out-of-band pairs never touch
        // their shingle sets.
        val (lo, hi) = hybridCuts(numHashes, minJaccard, hybridWindow)
        val inBand = col("__agree") >= lo && col("__agree") < hi
        collided
          .withColumn("__agree", agree)
          .withColumn("__i", when(inBand,
            sortedOverlapAtLeast(col("sset"), col("__sss"), req)))
          .withColumn("__j", when(col("__i") > 0,
            col("__i").cast("double") / (sz - col("__i"))))
          .filter(col("__agree") >= hi ||
            (inBand && coalesce(col("__j") >= minJaccard, lit(false))))
          .groupBy(col("doc_id"), col("cand_id"))
          .agg(max(col("__agree")).as("agree"),
            round(max(col("__j")), 6).as("jaccard"))
      case _ =>
        collided
          .withColumn("__agree", agree)
          .filter(col("__agree") >= minAgree)
          .groupBy(col("doc_id"), col("cand_id"))
          .agg(max(col("__agree")).as("agree"))
    }
  }

  /** The COMPLETE per-batch near-dedup ingest loop — probe → confirm →
    * accept → append — as one call, the batch substrate of the
    * operational 100 TB shape (streaming twin:
    * `StreamOps.minhashLshDedupBatchStep`, semantics matched
    * step-for-step and pinned interchangeable in StreamOpsSpec):
    *
    *   1. the batch dedupes INTERNALLY via the checked LSH pipeline
    *      ([[dedupByLshChecked]]: banded candidates → exact
    *      n-gram-Jaccard confirm → CC representatives);
    *   2. survivors' band rows probe the SIGNATURE-CARRYING bucketed
    *      store (`writeBandSignatureStore(withSignatures = true)`)
    *      exchange-free on the store side, and each collision is
    *      CONFIRMED by minhash agreement: the batch doc drops when
    *      agreeing slots ≥ ceil(minJaccard · numHashes) against any
    *      stored doc (the stored text is gone, so the estimator
    *      stands in for the exact confirm). MEASURED SIZING RULE
    *      (graft.tools.ConfirmCensus at sf0.1, recorded in
    *      CONFIRM_CENSUS.json / BASELINE.md): the agreement fraction
    *      is an unbiased Jaccard estimator with ~1/√k std, so
    *      decisions are reliable only OUTSIDE a ±2/√k window around
    *      `minJaccard` — choose numHashes ≥ (2/w)² for tolerance
    *      window w (k=16 → w≈0.5, k=64 → ±0.15 measured clean,
    *      k=128 → ±0.10; pairs with |J−minJaccard| inside the window
    *      split per the normal tail Φ(−|J−t|·√k), an inherent
    *      property of ANY k). Pairs far from the threshold are safe:
    *      post-census FP at J<0.3 is 0 at k≥64 (the rank-1
    *      coefficient degeneracy that once produced them is fixed and
    *      pinned in DedupSpec). When the tolerance window is too
    *      loose at any affordable k, two tighter confirms exist, both
    *      against a `withShingleSets = true` store:
    *      `confirm = "exact"` computes the EXACT n-gram Jaccard over
    *      the stored sorted shingle sets (early-abort merge kernel)
    *      for EVERY collided pair; `confirm = "hybrid"` converts the
    *      measured census into a router — the estimator alone decides
    *      pairs whose agreement falls strictly outside a
    *      ±`hybridWindow` band around `minJaccard` (default 4/√k,
    *      twice the measured error window — see [[hybridCuts]]), and
    *      ONLY the band pairs pay the exact kernel, so decisions are
    *      exact-grade at the band-fraction of exact's confirm cost
    *      (the band fraction shrinks as 1/√k while a real corpus's
    *      collided-pair mass sits bimodally far from the threshold).
    *      MEASURED (ConfirmCensus, CONFIRM_CENSUS.json): hybrid
    *      FP = FN = 0 at every (k ∈ 16..128, t ∈ {0.5, 0.8}, window
    *      ∈ {2,4}/√k) cell; at the tight measured-clean window 2/√k
    *      the routed fraction is 28/19/12% (t=0.5, k=32/64/128) and
    *      only 6% at the common near-dup setting t=0.8, k=128;
    *   3. accepted survivors' band rows (signatures riding along) are
    *      APPENDED to the store under its own catalog bucket spec
    *      ([[appendBandSignatures]]) — the next batch probes
    *      store ∪ this batch with no rewrite. Run
    *      `Storage.compactBucketed` every N batches.
    *
    * Survivors, the dup report, AND the batch's band rows are eagerly
    * `localCheckpoint`ed (each batch-sized, never corpus-sized), so
    * the probe, the append job, and the returned frames share one
    * materialization — the signature kernel runs once per batch.
    * After a crash mid-append, run `Storage.recoverToManifest(table)`
    * before the next call: the append is non-transactional parquet,
    * and the manifest written after each successful append is the
    * last-good file set recovery restores. Docs shorter than the
    * shingle size carry no
    * bands: never screened, never stored, always kept — they cannot
    * near-dup via LSH. Oracle row `q_d_ingest2` replays a two-batch
    * ingest end-to-end in portable SQL (both CC rounds as recursive
    * CTEs, the agreement confirm over the replayed signatures). */
  def lshIngestBatch(batch: DataFrame, textCol: String, idCol: String,
                     table: String, numHashes: Int = 16, bands: Int = 4,
                     shingleSize: Int = 3, minJaccard: Double = 0.5,
                     maxBucket: Int = 1000,
                     confirm: String = "estimator",
                     hybridWindow: Double = Double.NaN,
                     leaseOwner: String = null,
                     leaseTtlMs: Long = 10L * 60 * 1000): IngestResult = {
    // CONCURRENT-WRITER SAFETY (opt-in): the append leg is
    // non-transactional parquet, so two ingests racing the same store
    // interleave their generations' files and the manifest written by
    // whichever finishes second silently blesses the union — neither
    // crash recovery nor the probe can tell the interleaving apart
    // from a committed state. Passing `leaseOwner` brackets the whole
    // probe→append→manifest in `Storage.withWriterLease`: a second
    // writer fails LOUDLY (naming the holder) instead of corrupting,
    // and a crashed holder's lease expires after `leaseTtlMs` (size it
    // past the batch wall-clock). Single-writer deployments (the
    // streaming twin's foreachBatch, a driver-scheduled ingest loop)
    // can keep the default and pay nothing.
    if (leaseOwner != null)
      graft.sources.Storage.withWriterLease(batch.sparkSession, table,
        leaseOwner, leaseTtlMs)(
        lshIngestBatch(batch, textCol, idCol, table, numHashes, bands,
          shingleSize, minJaccard, maxBucket, confirm, hybridWindow))
    else {
    import org.apache.spark.sql.expressions.Window
    require(Set("estimator", "exact", "hybrid")(confirm),
      s"confirm=$confirm — must be estimator, exact, or hybrid")
    val needsSets = confirm != "estimator"
    val spark = batch.sparkSession
    val store = spark.table(table)
    require(store.columns.contains("mh"),
      s"$table is not signature-carrying; write it with " +
        "writeBandSignatureStore(withSignatures = true)")
    val storeHasSet = store.columns.contains("sset")
    require(!needsSets || storeHasSet,
      s"$table carries no shingle sets; confirm=$confirm requires a store " +
        "written with writeBandSignatureStore(withShingleSets = true)")
    requireLshParams(spark, table, numHashes, bands, shingleSize)
    // ONE signature pass per batch, shared with the internal dedup:
    // the core pins (doc_id, __sig, __ss) and the in-batch dedup,
    // the probe's band rows AND the appended rows all derive from
    // that pin — the pre-core shape ran the minhash kernel twice and
    // an interpreted shingle-set HOF chain besides (three text scans
    // per batch), plus an extra band-rows checkpoint that duplicated
    // each doc's shingle set `bands` times on local disk.
    val core = lshDedupCore(batch, textCol, idCol, numHashes, bands,
      shingleSize, minJaccard, maxBucket)
    val internal = batch.join(
      core.drop.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
    val bandedMh = core.sigs
      .join(core.drop, Seq("doc_id"), "left_anti")
      .select(Seq(col("doc_id"),
        explode(bandStructs(col("__sig"), numHashes, bands)).as("bb"),
        col("__sig").as("mh")) ++
        (if (storeHasSet) Seq(col("__ss").as("sset")) else Seq.empty): _*)
      .select(Seq(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"), col("mh")) ++
        (if (storeHasSet) Seq(col("sset")) else Seq.empty): _*)
    // store-side bucket-size guard (r17): an aggregated oversize
    // census instead of a count-window — the window form sorted the
    // FULL store rows inside every bucket partition (and the probe +
    // dropped-report consumers each paid that sorted scan), while the
    // census scan is column-pruned to the two key columns and the
    // probe side streams unsorted through a shuffle_hash anti join
    // (oversized buckets are skew pathologies — the census is
    // pathology-sized, usually empty).
    val dropped = store.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsize"))
      .filter(col("__bsize") > maxBucket)
      .select(col("band"), col("bucket"),
        col("__bsize").cast("int").as("size"))
    val okStore = store
      .join(dropped.select("band", "bucket").hint("shuffle_hash"),
        Seq("band", "bucket"), "left_anti")
      .select(Seq(col("band"), col("bucket"),
        col("doc_id").as("cand_id"), col("mh").as("__smh")) ++
        (if (needsSets) Seq(col("sset").as("__sss")) else Seq.empty): _*)
    // EAGER pins BEFORE the append: every returned frame reads the
    // store lazily, and the append below mutates it — an unpinned
    // report re-evaluated after return would match this batch's docs
    // against their own freshly-appended rows (caught by DedupSpec's
    // three-batch test). Both are batch-bounded, never corpus-sized;
    // pinning dups also means the probe runs ONCE (the survivors
    // anti-join reuses the materialized result).
    val collided = bandedMh.join(okStore, Seq("band", "bucket"))
    val dups = confirmedDupPairs(collided, numHashes, minJaccard,
      confirm, hybridWindow).localCheckpoint(true)
    val droppedP = dropped.localCheckpoint(true)
    val survivors = internal
      .join(dups.select(col("doc_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint(true)
    graft.sources.Storage.appendBucketed(spark,
      bandedMh.join(survivors.select(col(idCol).as("doc_id")),
        Seq("doc_id")),
      table)
    // every returned frame is checkpointed and the append has read
    // its band rows — the signature pin is done
    core.release()
    IngestResult(survivors, dups, droppedP)
    }
  }

  /** MinHash-LSH result: candidate pairs plus the oversize-bucket
    * accounting (never a silent drop — buckets past `maxBucket` are
    * skew pathologies the caller must see). */
  final case class LshCandidates(pairs: DataFrame, droppedBuckets: DataFrame)

  /** MinHash + LSH banding: rows sharing any (band, band-hash) bucket
    * are near-duplicate candidates. Returns candidate pairs (id_a <
    * id_b) with the number of agreeing bands, PLUS a report of every
    * bucket larger than `maxBucket` that was excluded from pairing
    * (band, bucket, size) — skew in a band hash is an input pathology
    * (boilerplate-heavy corpora), and at 100 TB an unlogged drop is a
    * silent recall loss. Docs with no shingles (shorter than the
    * shingle size) are filtered before banding: their signature is
    * all-null, and a shared null bucket would make every short doc a
    * candidate pair of every other (O(n²)).
    *
    * The only shuffle is the groupBy on bucket — per-bucket
    * self-pairing happens inside the aggregation.
    */
  def minhashLshCandidates(df: DataFrame, textCol: String, idCol: String,
                           numHashes: Int = 16, bands: Int = 4,
                           shingleSize: Int = 3,
                           maxBucket: Int = 1000): LshCandidates = {
    val banded =
      bandSignatures(df, textCol, idCol, numHashes, bands, shingleSize)
    val grouped = banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
    val dropped = grouped.filter(size(col("ids")) > maxBucket)
      .select(col("band"), col("bucket"), size(col("ids")).as("size"))
    val pairs = grouped.filter(size(col("ids")).between(2, maxBucket))
      // pair within bucket without exploding the cross product through a join
      .select(explode(TextFns.pairs(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("band_matches"))
    LshCandidates(pairs, dropped)
  }

  /** Pairs-only view of `minhashLshCandidates` (bench/oracle surface). */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      numHashes: Int = 16, bands: Int = 4,
                      shingleSize: Int = 3, maxBucket: Int = 1000): DataFrame =
    minhashLshCandidates(df, textCol, idCol, numHashes, bands,
      shingleSize, maxBucket).pairs

  /** SimHash: 60-bit signature where bit j is the sign of the sum of
    * (+1/-1) votes from each token hash's bit j. Near-dups share most
    * bits; hamming distance is a cheap post-filter.
    */
  def simhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", TextFns.simhash(col(textCol)))

  /** SimHash near-duplicate pairs (id_a < id_b, with hamming
    * distance): Manku-style block banding — the `bits`-bit signature
    * splits into `maxHamming + 1` equal blocks; by pigeonhole, any
    * pair within `maxHamming` differing bits shares at least one
    * identical block, so candidates = pairs sharing a (block index,
    * block value) bucket and the method is EXACT (verified against
    * the brute-force oracle), never O(n²). Signatures ride along in
    * the buckets, so the hamming confirm needs no join back.
    * `maxBucket` caps degenerate buckets (boilerplate corpora) — past
    * it recall is no longer guaranteed, so size it to the corpus.
    * SIZE `bits` TO THE CORPUS: the bucket keyspace is
    * `blocks * 2^(bits/blocks)`; occupancy is corpus/keyspace and
    * in-bucket pair work is occupancy², so once docs outnumber the
    * keyspace the kernel goes quadratic. 32/4 (keyspace 1k) is fine
    * to ~10⁴ docs; 60/4 (131k) carries ~10⁶–10⁷; beyond that raise
    * `bits` (≤ 60 here — token hashes are 60-bit). */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      bits: Int = 16, maxHamming: Int = 3,
                      maxBucket: Int = 10000): DataFrame = {
    val blocks = maxHamming + 1
    require(bits % blocks == 0,
      s"bits=$bits must divide into maxHamming+1=$blocks blocks")
    val blockBits = bits / blocks
    val mask = (1L << blockBits) - 1
    val sigs = df.select(col(idCol).as("doc_id"),
      TextFns.simhash(col(textCol), bits).as("sig"))
    val banded = sigs.select(explode(array((0 until blocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("sig"), b * blockBits).bitwiseAND(mask).as("bval"),
        struct(col("doc_id"), col("sig")).as("ds"))
    }: _*)).as("e"))
      .select(col("e.blk"), col("e.bval"), col("e.ds"))
    banded.groupBy("blk", "bval")
      .agg(sort_array(collect_list(col("ds"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      // hamming check INSIDE the bucket kernel (graft.plans
      // .HammingPairs — compiled nested loop, one Long.bitCount per
      // candidate): the possibly-huge candidate set never exists as
      // rows; only close pairs leave the bucket
      .select(explode({
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(graft.plans.HammingPairs(
          ColumnBridge.expression(col("members")), maxHamming))
      }).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      // a close pair shares several blocks -> one row per pair
      .distinct()
  }

  /** Duplicate-cluster resolution: candidate pairs → connected
    * components. Each round does min-label propagation over the edge
    * list (one hop) PLUS pointer jumping (label := label-of-label), so
    * the label tree halves in depth per round — convergence in
    * O(log diameter) rounds, not O(diameter). The loop runs to
    * convergence (`changed == 0`); hitting `maxIterations` without
    * converging throws rather than silently returning split clusters.
    * Per round: the previous labels cache is unpersisted once the new
    * one is computed, and lineage is truncated via localCheckpoint
    * every `checkpointEvery` rounds so plans don't grow unboundedly.
    * Returns (id, cluster_id) where cluster_id = min member id; the
    * kept representative per cluster is id == cluster_id.
    *
    * The returned frame is `localCheckpoint()`ed (eager, node-sized):
    * lineage back through the iterative rounds is cut so the interim
    * caches can be released immediately. Two consequences callers
    * should know: the blocks are NOT replicated, so an executor loss
    * after this returns makes the result unrecoverable mid-query
    * (re-run the call — it is deterministic); and the blocks are
    * reclaimed by ContextCleaner GC rather than an explicit
    * unpersist, so a driver that holds the reference across many
    * queries delays reclamation until the reference drops.
    *
    * The SAME non-replication caveat applies MID-LOOP: the edge list
    * and the every-k-rounds label checkpoints are `localCheckpoint`ed
    * too, so on a real cluster an executor loss mid-loop fails the
    * JOB (deterministic — re-run), it does not silently recompute.
    * Cluster deployments that prefer recompute-on-loss over fail-fast
    * should `spark.sparkContext.setCheckpointDir(...)`: when a
    * checkpoint dir is set, every lineage cut in this loop uses
    * RELIABLE `checkpoint()` (blocks in the fault-tolerant store)
    * instead — the reference's connected-components resume behavior
    * (vcf_anno.py:542-598 re-derives interrupted work-lists). */
  def dupClusters(pairs: DataFrame, maxIterations: Int = 20,
                  checkpointEvery: Int = 3,
                  localSolveMaxEdges: Long = 1000000L): DataFrame = {
    // Cache the BARE pair list once (two longs/row) — every path
    // below re-reads it, and the pair producer (an FS score pass, an
    // LSH bucket kernel) is the expensive leg we must not recompute.
    val p = pairs.select(col("id_a"), col("id_b")).cache()
    val nPairs = p.count()
    // Small graph: collect the pairs directly (union-find dedups and
    // symmetrizes implicitly) — 2 jobs, no shuffle, the round-5
    // adaptive-local-solve license. Disable with localSolveMaxEdges=0.
    if (nPairs > 0 && 2 * nPairs <= localSolveMaxEdges) {
      val out = localSolve(p) // collects eagerly — safe to release now
      p.unpersist()
      return out
    }
    // LEVEL-0 MIN-CONTRACTION — the big-graph path. One aggregation
    // over the cached pairs computes first(v) = min(N(v) ∪ {v});
    // edges rewrite through that mapping and self-edges drop.
    // Duplicate-rich graphs (near-dup clusters, ER clone groups)
    // collapse almost entirely in this one hop — the 90M-pair
    // q_r_erclust edge set contracts below the local-solve cap, so
    // the iterative machinery never touches the full edge list at
    // all (it used to cache 180M symmetrized rows and re-scan them
    // every round: 71 s; contracted: 17 s at sf1). Correctness:
    // first(v) stays inside v's component, and a component's global
    // min m has first(m) = m, so m survives contraction, the
    // contracted graph connects exactly the original components, and
    // composing base ∘ first restores every node's global-min label.
    val sym0 = p
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val first = sym0.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("lbl"))
      .cache() // node-sized
    // contracted edge list, deduped AFTER the collapse (map-side
    // partial dedup makes this distinct cheap precisely when the
    // contraction worked; when it didn't, it costs what the old
    // up-front distinct cost)
    val contracted = sym0
      .join(first.select(col("id").as("src"), col("lbl").as("__sl")), Seq("src"))
      .join(first.select(col("id").as("dst"), col("lbl").as("__dl")), Seq("dst"))
      .filter(col("__sl") =!= col("__dl"))
      .select(col("__sl").as("src"), col("__dl").as("dst"))
      .distinct()
    val base = clustersCore(contracted, maxIterations, checkpointEvery,
      localSolveMaxEdges)
    // base ∘ first; contracted-away singleton labels keep first(v).
    // localCheckpoint (eager, node-sized) pins the composition so the
    // caches built above — p, first, and clustersCore's final labels —
    // can all be released HERE instead of accumulating in executor
    // storage memory across a 245-query session.
    val composed = Lineage.cut(first
      .join(base.withColumnRenamed("id", "lbl"), Seq("lbl"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("lbl")).as("cluster_id")))
    p.unpersist(); first.unpersist(); base.unpersist()
    composed
  }

  /** Driver-side union-find over a collected pair list: (id,
    * cluster_id = min member) for every id appearing in `p`. */
  private def localSolve(p: DataFrame): DataFrame = {
    val es = p
      .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
      .collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min id: root IS the cluster id
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val out = ids.iterator.map(id => (id, find(id))).toSeq
    val spark = p.sparkSession
    import spark.implicits._
    out.toDF("id", "cluster_id")
  }

  /** Test/diagnostics hook: when non-null, called once per
    * clustersCore round with (round, per-round labels frame). The
    * cache-in-loop guard (DedupSpec) asserts the ANALYZED PLAN SIZE it
    * observes stays O(1) in rounds — the regression class session 13-2
    * hit (a `.cache()` that preserves a huge producer plan feeding an
    * iterative consumer re-analyzes that plan every round on the
    * driver; at sf100 that was 162 s of idle executors). Null in
    * production; never read on the hot path. */
  @volatile private[graft] var roundProbe: (Int, DataFrame) => Unit = null

  /** The iterative engine behind [[dupClusters]], operating on an
    * already-symmetrized edge list (duplicates tolerated — every step
    * is a min()). Kept as the post-contraction path: by the time this
    * runs, the edge list is the CONTRACTED graph. */
  private def clustersCore(symEdges: DataFrame, maxIterations: Int,
                           checkpointEvery: Int,
                           localSolveMaxEdges: Long): DataFrame = {
    // Eager localCheckpoint, NOT cache: a cache keeps the pair
    // producer's whole LOGICAL plan (the SimHash/LSH pipeline subtree,
    // repeated 4x through the two symmetrizing unions) in every
    // frame derived from `edges`, so each loop round below re-analyzes
    // and re-stringifies that huge tree on the driver — at sf100 a
    // 17-round loop ran 162 s with the EXECUTORS IDLE, all of it
    // Catalyst analysis + plan-description generation (jstack-
    // adjudicated). Checkpointing makes `edges` a LogicalRDD leaf, so
    // per-round driver work is O(the round's own operators). Same
    // k-core discipline as Graph.kCore; blocks are reclaimed by
    // ContextCleaner when the reference drops (see dupClusters doc).
    // `Lineage.cut` = reliable checkpoint when a checkpoint dir is set
    // (the cluster fault-tolerance knob documented on dupClusters).
    val edges = Lineage.cut(symEdges
      .union(symEdges.select(col("dst").as("src"), col("src").as("dst"))))
    // Adaptive local solve: each distributed round costs several
    // scheduled stages regardless of data volume, so on a graph whose
    // edge list is driver-safe (~16 MB at the default cap) a collected
    // union-find wins by orders of magnitude. The distributed loop
    // below remains the scale path — a 100 TB near-dup graph blows
    // straight past the cap. Disable with localSolveMaxEdges = 0.
    val nEdges = edges.count()
    if (nEdges > 0 && nEdges <= localSolveMaxEdges) {
      // localSolve collects eagerly and returns a frame built from a
      // driver-local Seq with no lineage to `edges`, so the checkpoint
      // blocks have no remaining consumer — release them NOW rather
      // than waiting for ContextCleaner GC (r13 ADVICE: across a long
      // multi-query session the lingering blocks accumulate).
      val out = localSolve(
        edges.select(col("src").as("id_a"), col("dst").as("id_b")))
      edges.unpersist()
      return out
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .cache()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIterations) {
      // hop: each node adopts the min label in its closed neighborhood
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_id")).as("nmin"))
      val hopped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"),
          col("cluster_id").as("__old"))
      // jump: label := label(label) — halves label-tree depth. (A
      // second jump per round was tried and reverted: without
      // materializing the first jump its lut re-evaluates the whole
      // un-cached subtree, quadrupling per-round work — measured far
      // slower, not faster.)
      val lut = hopped.select(col("id").as("cluster_id"),
        col("cluster_id").as("__parent"))
      val jumped = hopped.join(lut, Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__parent"), col("cluster_id")))
            .as("cluster_id"),
          col("__old"))
      // `Lineage.cut` both materializes and truncates lineage; on
      // non-checkpoint rounds a plain cache() suffices — the cached
      // plan chains back at most checkpointEvery rounds to a cut leaf,
      // so per-round driver analysis stays O(checkpointEvery), pinned
      // by the roundProbe guard test
      val next =
        if ((i + 1) % checkpointEvery == 0) Lineage.cut(jumped)
        else jumped.cache()
      val probe = roundProbe
      if (probe != null) probe(i, next)
      // one action per round: convergence test (needed — the loop IS
      // data-dependent); runs on the cached new labels
      changed = next.filter(col("cluster_id") =!= col("__old")).count()
      labels.unpersist()
      labels = next.drop("__old")
      i += 1
    }
    // edges is localCheckpoint'd (not cached) — its blocks are
    // reclaimed by ContextCleaner once the reference drops here.
    if (changed > 0)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIterations rounds " +
          "(pointer-jumped min-label propagation); raise maxIterations")
    System.err.println(s"[dupClusters] converged in $i rounds")
    labels
  }

  /** Quality-aware dedup: resolve near-dup `pairs` into clusters and
    * keep each cluster's member MAXIMIZING `scoreCol` (ties break to
    * the smallest id) — what a real training pipeline does, versus
    * the keep-min-id convenience of the `dedupBy*` family: the best
    * copy of a syndicated article survives, not the one that crawled
    * first. Rows untouched by any pair keep themselves (singleton
    * clusters). Score ties are engine-exact when `scoreCol` is an
    * integer form (e.g. micro-units) — pass doubles through a
    * round-and-scale first.
    *
    * Scale shape: dupClusters' contraction machinery for the
    * clusters; ONE hash aggregation (`max(struct(score, -id))`) picks
    * winners — no per-cluster window sort. */
  def dedupKeepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
                    scoreCol: Column): DataFrame = {
    val clusters = dupClusters(pairs).withColumnRenamed("id", idCol)
    val member = docs.select(col(idCol), scoreCol.as("__q"))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("__c"), col("__q"))
    // lexicographic max: highest score, then smallest id (negated)
    val best = member.groupBy(col("__c"))
      .agg(max(struct(col("__q").as("q"), (-col(idCol)).as("nid")))
        .as("__b"))
      .select((-col("__b").getField("nid")).as(idCol))
    docs.join(best, Seq(idCol), "left_semi")
  }

  /** Embedding-cosine near-duplicate pairs (the semantic-dedup leg of
    * the training-data pipeline): exact form for modest corpora, SRP-
    * bucketed ANN (`Similarity.lshBucketed`) as the 100 TB path;
    * `multiProbe` additionally probes one-flip buckets to recover
    * pairs a single hyperplane split (recall knob — measure with
    * `Similarity.recallReport`). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        minCos: Double, exact: Boolean = true,
                        multiProbe: Boolean = false, planes: Int = 8,
                        dim: Int = 64, maxBucket: Int = 1000): DataFrame =
    if (exact) Similarity.thresholdPairs(df, idCol, vecCol, minCos)
    else if (multiProbe)
      Similarity.lshBucketedMultiProbe(df, idCol, vecCol, minCos,
        planes, dim, maxBucket).pairs
    else Similarity.lshBucketed(df, idCol, vecCol, minCos,
      planes, dim, maxBucket)

  /** End-to-end SimHash dedup (the third leg next to `dedupByLsh` and
    * `dedupByEmbedding`): near-dup pairs within `maxHamming` →
    * connected components → keep the min-id representative. SimHash
    * trades MinHash's Jaccard estimate for one 64-bit signature per
    * doc and an exact banding guarantee — the cheapest near-dup pass
    * at corpus scale. */
  def dedupBySimhash(docs: DataFrame, textCol: String, idCol: String,
                     bits: Int = 32, maxHamming: Int = 3,
                     maxBucket: Int = 10000): DataFrame = {
    val pairs = simhashNearDups(docs, textCol, idCol, bits, maxHamming,
      maxBucket).select("id_a", "id_b")
    val drop = dupClusters(pairs).filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** End-to-end SEMANTIC dedup (the embedding twin of `dedupByLsh`):
    * near-dup pairs above `minCos` → connected components → keep the
    * min-id representative per cluster. `exact = false` routes through
    * the SRP-bucketed ANN — the 100 TB path (bucket join instead of
    * all-pairs; recall bounded by the plane count). */
  def dedupByEmbedding(df: DataFrame, idCol: String, vecCol: String,
                       minCos: Double, exact: Boolean = true,
                       multiProbe: Boolean = false, planes: Int = 8,
                       dim: Int = 64, maxBucket: Int = 1000): DataFrame = {
    val pairs = embeddingNearDups(df, idCol, vecCol, minCos, exact,
      multiProbe, planes, dim, maxBucket)
      .select("id_a", "id_b")
    val drop = dupClusters(pairs).filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Hashed shingle-set frame `(__id, __set)` — the one-time build
    * that Jaccard scoring reuses. Two projections so tokenization runs
    * once and the n `element_at` shingle reads hit a bound column
    * (CollapseProject keeps non-cheap multi-referenced aliases apart).
    * At 100 TB scale, write this frame to parquet bucketed by id
    * (sources.Storage) and feed `ngramJaccardOnSets` from storage. */
  def shingleSets(docs: DataFrame, textCol: String, idCol: String,
                  n: Int = 3): DataFrame =
    docs.select(col(idCol).as("__id"),
        TextFns.tokenHashes64(col(textCol)).as("__th"))
      .select(col("__id"),
        TextFns.shinglesFromTokenHashes64(col("__th"), n).as("__set"))

  /** N-gram Jaccard similarity for candidate pairs: given a pairs
    * frame (id_a, id_b) and the source docs, compute
    * |A ∩ B| / |A ∪ B| over word n-gram sets (hashed — same
    * cardinalities, no giant string arrays, no per-shingle md5). */
  def ngramJaccard(pairsDf: DataFrame, docs: DataFrame, textCol: String,
                   idCol: String, n: Int = 3): DataFrame =
    ngramJaccardOnSets(pairsDf, shingleSets(docs, textCol, idCol, n))

  /** One-sided n-gram CONTAINMENT for candidate pairs:
    * |A∩B|/|A| and |A∩B|/|B| — the quote / excerpt / subset-dup
    * signal Jaccard under-scores when a short document sits inside a
    * long one (Jaccard dilutes by the union; containment of the short
    * side stays ≈1). Same hashed-set frame as `ngramJaccard`:
    * cardinalities are hash-invariant, so an oracle replays them over
    * string shingles. Empty sides score 0. */
  def ngramContainment(pairsDf: DataFrame, docs: DataFrame,
                       textCol: String, idCol: String,
                       n: Int = 3): DataFrame = {
    val sets = shingleSets(docs, textCol, idCol, n)
    pairsDf
      .join(sets.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "set_b"), Seq("id_b"))
      .withColumn("__i",
        size(array_intersect(col("set_a"), col("set_b"))))
      .select(col("id_a"), col("id_b"),
        when(size(col("set_a")) === 0, 0.0)
          .otherwise(round(col("__i") / size(col("set_a")), 6))
          .as("containment_a"),
        when(size(col("set_b")) === 0, 0.0)
          .otherwise(round(col("__i") / size(col("set_b")), 6))
          .as("containment_b"))
  }

  /** Jaccard over precomputed hashed shingle sets `(__id, __set)`. */
  def ngramJaccardOnSets(pairsDf: DataFrame, sets: DataFrame): DataFrame =
    pairsDf
      .join(sets.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "set_b"), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("union", size(array_union(col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        when(col("union") === 0, 0.0)
          .otherwise(col("inter").cast("double") / col("union")))
      .drop("set_a", "set_b")

  /** Prefix-filtering set-similarity self-join (PPJoin-style): EXACT
    * all-pairs n-gram Jaccard at `threshold` — the no-missed-pairs
    * alternative to MinHash-LSH when recall must be 1.0.
    *
    * Each document's shingle set is ordered globally by document
    * frequency (rarest first, hash tie-break); only the first
    * |s| − ⌈t·|s|⌉ + 1 tokens (the prefix) generate candidates — any
    * pair with J ≥ t must share a prefix token under a consistent
    * global order, so verification over the shared-prefix pairs loses
    * nothing. Rare-first ordering is what bounds the candidate
    * buckets: frequent shingles fall outside prefixes, so no
    * stop-shingle hot bucket forms. No cap, no drop report — exactness
    * is the contract (use `minhashLshCandidates` when an approximate
    * answer is acceptable and t is low).
    *
    * Returns (id_a, id_b, inter, union, jaccard) with id_a < id_b and
    * jaccard ≥ threshold (rounded to 6 dp after the filter).
    */
  def prefixFilterPairs(docs: DataFrame, textCol: String, idCol: String,
                        threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold")
    // `sets` is referenced by THREE consumers below (the prefix
    // explode, the sketch side, the sorted-verify side), each a full
    // recompute of the shingle chain. Deliberate: a MEMORY_AND_DISK
    // persist of the per-doc (sorted set, sketch) frame was built and
    // MEASURED at sf10 — 7.8 s → 11.3 s solo — because columnar
    // caching of corpus-sized array<long> columns (serialize + store +
    // re-read, and the consumers lose whole-stage fusion with the
    // shingle projection) costs more on a CPU-rich node than two
    // codegen'd recomputes. At true IO-bound scale the operator's
    // documented form (see shingleSets) feeds `sets` from a parquet
    // store bucketed by __id, where every consumer is one cheap scan.
    // Scale profile (tools/PrefixProf, sf100): the cost center is the
    // prefix build's two full-token-frame shuffles + window sort —
    // shuffle-sort I/O that tracks page-cache state (57–107 s swings
    // on identical output), 9.2× solo-vs-solo for the sf10→sf100
    // decade; a hash-agg + per-row array_sort alternative produced
    // identical rows and was REJECTED 238 s vs 57 s (growing
    // array-buffer aggregation loses to the external sort).
    val sets = shingleSets(docs, textCol, idCol, n)
    // explode_outer, NOT explode: InferFiltersFromGenerate would infer
    // `size(__set) > 0` for a plain explode and push it below the
    // projections, inlining the whole HOF shingle pipeline into an
    // interpreted per-row filter where every element_at recomputes the
    // token-hash array — measured 23 s vs 0.6 s on sf0.1. The outer
    // generate is exempt; the null row it emits for empty sets is
    // dropped right here on the cheap generated attribute.
    val e = sets.select(col("__id"), size(col("__set")).as("__sz"),
      explode_outer(col("__set")).as("__g"))
      .filter(col("__g").isNotNull)
    val dfreq = e.groupBy("__g").agg(count(lit(1)).as("__df"))
    // shuffle_hash, not sort-merge: the join only DECORATES each token
    // row with its df — the very next operator re-shuffles by __id for
    // the rank window, so the SMJ's sort of 100% of token rows by __g
    // is pure waste (measured ~1 s of the prefix build at sf10; a
    // binarized-df map-side variant was tried and REVERTED — this
    // corpus has almost no df=1 shingles, so fine df distinctions
    // carry the pruning and candidates exploded 6×)
    val w = Window.partitionBy("__id").orderBy(col("__df"), col("__g"))
    val prefixes = e.join(dfreq.hint("shuffle_hash"), Seq("__g"))
      .withColumn("__rn", row_number().over(w))
      // ceil(x − ε·|s|), not ceil(x): t·|s| computed in double can
      // land a hair ABOVE the exact rational (t=0.8 at |s|=63,117,…),
      // which would shorten the prefix and silently drop a true pair
      // with J exactly == t. The epsilon is SIZE-RELATIVE (1e-12·|s|,
      // ~4e3 ulps of t·|s|) so it still dominates the half-ulp product
      // rounding when |s| grows past ~1e7, where an absolute 1e-9
      // would fall below the error it guards against. It can only
      // lengthen the prefix by one token on exact-integer boundaries —
      // more candidates, never fewer, so exactness is preserved (the
      // verify join is exact). Same treatment on every bound below.
      .filter(col("__rn") <=
        col("__sz") - ceil(lit(threshold) * col("__sz")
          - lit(1e-12) * col("__sz")) + 1)
      .select(col("__id"), col("__g"), col("__sz"), col("__rn"))
    // STATIC suffix filter (PPJoin+): each prefix row carries its
    // doc's 68-byte bucket-count sketch (64 saturating byte counters
    // over a Fibonacci-mixed hash of the set's elements + an overflow
    // total) so the index self-join below can evaluate
    // Σ_b min(cntA_b, cntB_b) + min(ovfA, ovfB) — a PROVEN upper
    // bound on |A∩B|, see BucketCountSketch — per candidate AT
    // GENERATION. The attach join re-uses the window's __id hash
    // partitioning (only the sketch side shuffles, one row per doc);
    // shuffle_hash for the same no-sort reason as above. At sf10 the
    // in-join bound kills 99.6% of the 7.3M length+position survivors
    // (only 25.6k are true pairs), so the pair groupBy and the
    // full-sorted-set verify joins below run on a true-pair-sized
    // remnant instead of every candidate; the bound is exact-safe, so
    // recall stays 1.0.
    val sketchBits = 6
    val bcs = sets.select(col("__id"),
      bucketCountSketch(col("__set"), sketchBits).as("__bc"))
    val prefixesS = prefixes.join(bcs.hint("shuffle_hash"), Seq("__id"))
    // PPJoin filters inside the index join, all necessary conditions
    // of J >= t so exactness is preserved:
    //  - length: t·|b| <= |a| <= |b|/t;
    //  - position: at a pair's FIRST shared prefix token no common
    //    element precedes it (both sets sort in the same global
    //    (df, g) order), so inter <= 1 + min(|a|-rn_a, |b|-rn_b),
    //    and J >= t forces inter >= t/(1+t)·(|a|+|b|). A true pair
    //    passes at its first shared token, so any-pass + distinct
    //    loses nothing; false candidates sharing only a late prefix
    //    token die here instead of in the set-verify join.
    //  - suffix: the sketch bound above reaches alpha.
    def alphaOf(szSum: Column): Column =
      ceil(lit(threshold / (1.0 + threshold)) * szSum - lit(1e-12) * szSum)
    val alpha = alphaOf(col("a.__sz") + col("b.__sz"))
    // Candidate pairs: instead of any-pass + distinct, AGGREGATE the
    // shared-prefix-token rows per pair and apply the ACCUMULATED
    // positional filter — PPJoin's real filter, strictly tighter than
    // the single-token bound: inter <= cpre + min(|a|-rn_a_last,
    // |b|-rn_b_last), where cpre counts shared prefix tokens and
    // rn_last their last positions. Validity with the per-token
    // in-join condition still present: that condition is monotone in
    // token rank (later shared tokens have larger rn on BOTH sides),
    // so the surviving rows are a rank-prefix of the shared tokens,
    // and at the last survivor every lower-ranked shared token is in
    // both prefixes and counted — the textbook A[y]+1+min(remaining)
    // bound. The groupBy shuffles the same volume the old distinct
    // did (map-side combine collapses to one row per pair either way)
    // and kills false candidates BEFORE the expensive set join.
    val cand = prefixesS.as("a").join(prefixesS.as("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id") &&
          col("a.__sz") * lit(threshold)
            - lit(1e-12) * col("a.__sz") <= col("b.__sz") &&
          col("b.__sz") * lit(threshold)
            - lit(1e-12) * col("b.__sz") <= col("a.__sz") &&
          lit(1) + least(col("a.__sz") - col("a.__rn"),
            col("b.__sz") - col("b.__rn")) >= alpha &&
          bucketBound(col("a.__bc"), col("b.__bc")) >= alpha.cast("int"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__sz").as("__sza"), col("b.__sz").as("__szb"),
        col("a.__rn").as("__rna"), col("b.__rn").as("__rnb"))
      .groupBy("id_a", "id_b", "__sza", "__szb")
      .agg(count(lit(1)).cast("int").as("__cpre"),
        max(col("__rna")).as("__lna"), max(col("__rnb")).as("__lnb"))
      .filter(col("__cpre") + least(col("__sza") - col("__lna"),
        col("__szb") - col("__lnb")) >= alphaOf(col("__sza") + col("__szb")))
      // slim to what verify needs — the pair rows ride two set joins,
      // so every spare column here is shuffled twice more
      .select("id_a", "id_b", "__sza", "__szb")
    val req = alphaOf(col("__sza") + col("__szb")).cast("int")
    // Verify on SORTED sets with the early-abort merge kernel
    // (SortedOverlapAtLeast): the scan abandons a false candidate as
    // soon as count_so_far + min(remaining) drops below the required
    // overlap — the dynamic form of PPJoin+ suffix filtering — and
    // returns the EXACT intersection size otherwise (-1 rows fail the
    // jaccard filter). union derives as |a|+|b|-inter; no hash-set or
    // output-array allocation per pair.
    val ss = sets.select(col("__id"), sort_array(col("__set")).as("__ss"))
    cand
      .join(ss.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__ss", "__seta"), Seq("id_a"))
      .join(ss.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__ss", "__setb"), Seq("id_b"))
      .withColumn("inter",
        sortedOverlapAtLeast(col("__seta"), col("__setb"), req))
      .withColumn("union", col("__sza") + col("__szb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union"))
      .filter(col("jaccard") >= threshold)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .select("id_a", "id_b", "inter", "union", "jaccard")
  }

  /** Column wrapper for the early-abort sorted-merge intersection
    * kernel (see `graft.plans.SortedOverlapAtLeast`). */
  private def sortedOverlapAtLeast(a: Column, b: Column,
                                   required: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.SortedOverlapAtLeast(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(required)))

  /** Column wrappers for the PPJoin+ static suffix-filter sketch pair
    * (see `graft.plans.BucketCountSketch` / `BucketBound`). */
  private def bucketCountSketch(set: Column, bits: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.BucketCountSketch(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(set), bits))

  private def bucketBound(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.BucketBound(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** N-gram duplication census — the substring-level dedup signal
    * ("Deduplicating Training Data Makes Language Models Better":
    * repeated ~50-token spans, here word n-grams): every hashed
    * n-gram occurring in at least `minDocs` DISTINCT documents, with
    * its document reach and total occurrence count. One shuffle (the
    * groupBy on the hash); the n-gram strings never leave the
    * projection — only 60-bit hashes are shuffled. */
  def duplicatedNgrams(df: DataFrame, textCol: String, idCol: String,
                       n: Int, minDocs: Int = 2): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(TextFns.ngramHashesNative(col(textCol), n)).as("ngram_hash"))
      .groupBy("ngram_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_total"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document duplicated-span coverage: the fraction of token
    * positions lying inside an n-gram that `duplicatedNgrams` flagged.
    * This is the drop/trim signal a corpus pass acts on (documents
    * above a coverage threshold are boilerplate-heavy). Position sets
    * are deduplicated per doc with a single countDistinct aggregation;
    * the flagged-hash join is an equi-join on the 60-bit hash (AQE
    * broadcasts it when the flagged set is small). */
  def ngramSpanCoverage(df: DataFrame, textCol: String, idCol: String,
                        n: Int, minDocs: Int = 2): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      TextFns.tokens(col(textCol)).as("__tk"))
    val grams = df.select(col(idCol).as("doc_id"),
        posexplode(TextFns.ngramHashesNative(col(textCol), n))
          .as(Seq("__gpos", "ngram_hash")))
    val flagged = duplicatedNgrams(df, textCol, idCol, n, minDocs)
      .select("ngram_hash")
    val covered = grams.join(flagged, Seq("ngram_hash"))
      .select(col("doc_id"),
        explode(sequence(col("__gpos") + 1, col("__gpos") + n)).as("__pos"))
      .groupBy("doc_id")
      .agg(countDistinct(col("__pos")).as("covered"))
    toks.select(col("doc_id"), size(col("__tk")).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("covered", coalesce(col("covered"), lit(0L)))
      .withColumn("coverage", when(col("n_tokens") === 0, lit(0.0))
        .otherwise(round(col("covered") / col("n_tokens"), 6)))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * n-grams whose first corpus occurrence (by ascending doc id —
    * ingestion order) is this document. The mirror image of the
    * duplication census: a streaming-ingest quality gate drops or
    * down-weights low-novelty documents (mostly-recycled content)
    * without needing pairwise comparisons at all.
    *
    * Scale shape: only 60-bit hashes shuffle — one min-aggregation
    * for first occurrence, one equi-join back, one per-doc count.
    * Precondition: `idCol` must be unique per input row (the ingest
    * contract); with duplicate ids the per-row n_grams would diverge
    * from a per-id merged census. The n-gram kernel intentionally
    * runs twice per row (gram explode + map-only size projection) —
    * both fuse into the one scan, cheaper than shuffling gram rows a
    * second time for the count.
    * Output: (doc_id, n_grams, n_novel, novelty). */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
                   n: Int): DataFrame = {
    // n_novel(doc) = #{h : min doc containing h == doc} — computed by
    // RE-AGGREGATING the (h → min doc) frame by that min doc, never
    // joining it back onto the corpus-sized gram list (the pre-r16
    // join-back shuffled every (doc, gram) row a SECOND time through
    // the h-keyed join and then a third through the per-doc groupBy —
    // the join leg was the whole 9.1 GB sf100 shuffle). n_grams is
    // map-only: the distinct-gram count per row, no gram row shuffled
    // for it. `greatest(size, 0)` normalizes both null-size
    // conventions (null / legacy −1) to the old explode form's 0.
    val grams = df.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFns.ngramHashesNative(col(textCol), n)))
        .as("h"))
    val novel = grams.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    df.select(col(idCol).as("doc_id"),
        greatest(size(array_distinct(
          TextFns.ngramHashesNative(col(textCol), n))), lit(0))
          .cast("long").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        // coalesce INSIDE the ratio too: a doc whose every gram first
        // appeared earlier has a NULL join leg, and aliases in this
        // same select do not rebind col("n_novel")
        when(col("n_grams") === 0, 0.0)
          .otherwise(round(coalesce(col("n_novel"), lit(0L)) /
            col("n_grams"), 6))
          .as("novelty"))
  }

  /** ExactSubstr-style span trimming (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): REMOVE every token
    * position covered by an n-gram that `duplicatedNgrams` flagged as
    * appearing in ≥ `minDocs` documents, and rebuild the text — the
    * transform the coverage report (`ngramSpanCoverage`) is the
    * audit for. (This trims the span everywhere it appears, the
    * conservative variant; keep-one-copy needs a global occurrence
    * order and is a policy layered on top.)
    *
    * Scale shape: flagged hashes are the ONLY shuffled rows (60-bit
    * longs, hash-aggregated); covered positions collapse per doc in
    * one aggregation; the rebuild is an indexed filter HOF over the
    * token array — no second tokenize, no window. Per-row rebuild
    * cost is O(tokens · covered): fine for chunk-bounded documents,
    * quadratic only for a fully-duplicated long doc (which this pass
    * exists to delete anyway).
    * Output: (doc_id, n_tokens, n_removed, text_clean). */
  def trimDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                          n: Int, minDocs: Int = 2): DataFrame = {
    val flagged = duplicatedNgrams(df, textCol, idCol, n, minDocs)
      .select("ngram_hash")
    val grams = df.select(col(idCol).as("doc_id"),
      posexplode(TextFns.ngramHashesNative(col(textCol), n))
        .as(Seq("__gpos", "ngram_hash")))
    val cov = grams.join(flagged, Seq("ngram_hash"))
      .select(col("doc_id"),
        explode(sequence(col("__gpos") + 1, col("__gpos") + n)).as("__pos"))
      .groupBy("doc_id")
      .agg(collect_set(col("__pos")).as("__cov"))
    df.select(col(idCol).as("doc_id"),
        TextFns.tokens(col(textCol)).as("__tk"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__tk")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("__tk"),
          (t, i) => col("__cov").isNull ||
            !array_contains(col("__cov"), i + 1))).as("text_clean"))
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD 2003 —
    * the MOSS algorithm): slide a window of `w` consecutive n-gram
    * hashes and keep the window minimum (rightmost on ties), giving a
    * position-bearing fingerprint set with the guarantee that any
    * shared token run of at least w+n−1 tokens shares a fingerprint —
    * the robust upgrade of a single whole-doc rolling hash for
    * partial-overlap / clone detection.
    *
    * Scale shape: entirely MAP-ONLY — the compiled n-gram kernel plus
    * integer HOFs fuse into the scan projection, per-doc dedup via
    * array_distinct happens before the explode, and no shuffle exists
    * at all (downstream joins on `fp` are the consumer's choice).
    * Documents shorter than one window still emit their single best
    * fingerprint (standard MOSS behavior); sub-n-token docs emit none.
    * Output: (doc_id, pos, fp) where pos indexes the n-gram start. */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1, "winnow: n and w must be positive")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val base = docs.select(col(idCol).as("doc_id"),
      TextFns.ngramHashesNative(col(textCol), n).as("__hs"))
    // one compiled O(len) deque pass (graft.plans.WinnowPicks) — the
    // HOF window scan below is the parity baseline it replaces
    // (O(len·w) interpreted, one window array allocation per start)
    val picks = ColumnBridge.column(graft.plans.WinnowPicks(
      ColumnBridge.expression(col("__hs")), w))
    base.select(col("doc_id"), explode(picks).as("__p"))
      .select(col("doc_id"), col("__p.pos").as("pos"), col("__p.fp").as("fp"))
  }

  /** Interpreted HOF winnowing (semantics baseline for TextKernelSpec
    * — also the window form the DuckDB oracle reproduces). */
  def winnowFingerprintsHof(docs: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1, "winnow: n and w must be positive")
    val base = docs.select(col(idCol).as("doc_id"),
      TextFns.ngramHashesNative(col(textCol), n).as("__hs"))
    val m = size(col("__hs"))
    val starts = when(m === 0, array().cast("array<int>"))
      .when(m < w, array(lit(0)))
      .otherwise(sequence(lit(0), m - w))
    val picks = transform(starts, i => {
      val win = slice(col("__hs"), i + 1, lit(w))
      val minv = array_min(win)
      val jmax = array_max(transform(sequence(lit(1), size(win)),
        j => when(element_at(win, j) === minv, j).otherwise(0)))
      struct((i + jmax - 1).cast("long").as("pos"), minv.as("fp"))
    })
    base.select(col("doc_id"),
        explode(array_distinct(picks)).as("__p"))
      .select(col("doc_id"), col("__p.pos").as("pos"), col("__p.fp").as("fp"))
  }

  /** Cross-source duplicate overlap matrix — the provenance report
    * behind a mixture decision: for every source pair, how many
    * distinct contents appear in BOTH (mirrored crawls, syndicated
    * feeds, vendor overlap). Distinct (hash, source) rows first, so
    * within-source duplication doesn't inflate the count; the join
    * key is the content hash. Output: (src_a < src_b, n_shared). */
  def sourceOverlap(docs: DataFrame, textCol: String,
                    srcCol: String): DataFrame = {
    val hs = docs.select(md5(col(textCol)).as("h"),
      col(srcCol).as("src")).distinct()
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Candidate pairs from shared winnowing fingerprints — the
    * partial-overlap dedup generator (clone detection, long shared
    * passages) that LSH-over-whole-doc signatures misses by design.
    * Fingerprints appearing in more than `maxFp` documents are
    * dropped before the self-join (the boilerplate-fingerprint
    * guard — same discipline as the LSH bucket cap: a corpus-wide
    * header would otherwise quadratically explode one hash bucket);
    * pairs need ≥ `minShared` shared fingerprints. Only (doc_id,
    * 60-bit fp) rows ever shuffle. */
  def winnowPairs(docs: DataFrame, textCol: String, idCol: String,
                  n: Int = 3, w: Int = 4, minShared: Int = 2,
                  maxFp: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // frequency gate as a WINDOW over the fp partitioning (not a
    // groupBy + join-back): the eligible frame is then one identical
    // subtree on both sides of the self-join, so the shuffle is
    // reused and the winnow kernel runs ONCE, not three times
    val el = winnowFingerprints(docs, textCol, idCol, n, w)
      .select(col("doc_id"), col("fp")).distinct()
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("__c").between(2, maxFp)).drop("__c")
    el.as("a").join(el.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** `dedupByLsh` result: the deduplicated docs plus the oversize-
    * bucket accounting from the candidate stage (recall loss is a
    * caller-visible fact, end to end — not just in the pair stage). */
  final case class DedupResult(deduped: DataFrame, droppedBuckets: DataFrame)

  /** End-to-end near-dup removal: MinHash-LSH candidates → Jaccard
    * confirmation ≥ `minJaccard` → connected components → keep the
    * min-id representative of each cluster. */
  def dedupByLshChecked(docs: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 16, bands: Int = 4,
                        shingleSize: Int = 3, minJaccard: Double = 0.8,
                        maxBucket: Int = 1000): DedupResult = {
    val core = lshDedupCore(docs, textCol, idCol, numHashes, bands,
      shingleSize, minJaccard, maxBucket)
    // the drop set is pinned (dupClusters checkpoints its output), so
    // the signature cache can release NOW; a caller that later reads
    // droppedBuckets recomputes its banding from the text — exactly
    // what the pre-core lazy form cost
    core.release()
    DedupResult(
      docs.join(core.drop.withColumnRenamed("doc_id", idCol),
        Seq(idCol), "left_anti"),
      core.droppedBuckets)
  }

  /** One-pass LSH dedup core shared by [[dedupByLshChecked]] and
    * [[lshIngestBatch]]. The pre-core shape ran the text kernels as
    * SEPARATE scans — one minhash pass for banding, one interpreted
    * `tokenHashes64`/xxhash64 HOF chain for the confirm's shingle
    * sets, and (in the ingest loop) a third combined pass for the
    * appended band rows. This computes BOTH compiled kernels
    * (MinhashSignature + NgramHashes) in ONE scan, pins the
    * `(doc_id, __sig, __ss)` frame (MEMORY_AND_DISK — k longs +
    * |distinct shingles| longs per doc, smaller than the text it
    * derives from), and derives banding, confirm, and (for the ingest
    * loop) the append rows from the pin. The confirm's Jaccard now
    * reads the compiled NgramHashes sets; intersection/union
    * CARDINALITIES are hash-family-invariant (the same argument the
    * q_d_ingest3 sset already relies on), so jaccard values and every
    * downstream decision are unchanged — re-verified against the
    * DuckDB oracle on q_d_pipeline / q_t_clean / q_d_ingest2/3/4.
    *
    * `drop` (non-representative duplicate ids) is safe to consume
    * after [[LshCore.release]] — dupClusters eagerly checkpoints.
    * `droppedBuckets` stays LAZY (the pre-core contract): consuming
    * it after release recomputes from the text. */
  private[graft] final case class LshCore(sigs: DataFrame, drop: DataFrame,
                                          droppedBuckets: DataFrame) {
    def release(): Unit = { sigs.unpersist(); () }
  }

  /** Band struct array over a bound signature column — the SAME
    * bucket expression [[bandRows]] plans (hash60 over the band's
    * `_`-joined minhash slots), factored so core-derived band rows
    * are bitwise-identical to kernel-derived ones. */
  private def bandStructs(sig: Column, numHashes: Int,
                          bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash60(concat_ws("_",
          (b * rows until (b + 1) * rows).map(i => sig.getItem(i)): _*))
          .as("bucket"))
    }: _*)
  }

  private[graft] def lshDedupCore(docs: DataFrame, textCol: String,
                                  idCol: String, numHashes: Int, bands: Int,
                                  shingleSize: Int, minJaccard: Double,
                                  maxBucket: Int): LshCore = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val sigs = docs
      .filter(size(TextFns.tokens(col(textCol))) >= shingleSize)
      .select(col(idCol).as("doc_id"),
        TextFns.minhashSignatureNative(col(textCol), numHashes, shingleSize)
          .as("__sig"),
        sort_array(array_distinct(
          TextFns.ngramHashesNative(col(textCol), shingleSize))).as("__ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col("doc_id"),
        explode(bandStructs(col("__sig"), numHashes, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    val grouped = banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
    val droppedBuckets = grouped.filter(size(col("ids")) > maxBucket)
      .select(col("band"), col("bucket"), size(col("ids")).as("size"))
    val pairs = grouped.filter(size(col("ids")).between(2, maxBucket))
      .select(explode(TextFns.pairs(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("band_matches"))
    val confirmed = ngramJaccardOnSets(pairs,
        sigs.select(col("doc_id").as("__id"), col("__ss").as("__set")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b")
    val clusters = dupClusters(confirmed) // EAGER: consumes pairs fully
    val drop = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    LshCore(sigs, drop, droppedBuckets)
  }

  /** Deduplicated-docs-only view of `dedupByLshChecked`. */
  def dedupByLsh(docs: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 16, bands: Int = 4,
                 shingleSize: Int = 3, minJaccard: Double = 0.8): DataFrame =
    dedupByLshChecked(docs, textCol, idCol, numHashes, bands,
      shingleSize, minJaccard).deduped
}
