package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication for training-data pipelines, four flavours:
  * exact, MinHash+LSH, SimHash, and verified n-gram Jaccard.
  *
  * Scale design (100 TB corpus, 1000 executors):
  *  - every variant is shuffle-on-key groupBy/join — no driver collects, no
  *    cross-partition state;
  *  - the all-pairs step only ever happens *within an LSH band bucket*
  *    (candidate generation), never across the corpus;
  *  - one hash family per operator: md5 for MinHash and SimHash, the raw
  *    window string for duplicate spans — engine-portable, so the DuckDB
  *    twins reproduce every band key and fingerprint. An xxhash64 family
  *    measured at most ~6% faster end to end (the band join and verify
  *    dominate), not enough to keep a second, oracle-less path.
  *
  * Cache lifecycle: operators persist intermediates that feed two plan
  * branches (the shingle relation, the rare-pair intersections). The
  * persists are lazy — they materialize only when the caller executes the
  * returned plan — and caller-owned: `Dataset.persist` registers the plan
  * in the session's CacheManager, which holds the blocks until
  * `unpersist` or `catalog.clearCache()` (dropping the returned DataFrame
  * does not release them). A later call that builds the same plan reuses
  * the cached relation. `nearDupClusters`, which drives its own actions,
  * checkpoints instead and frees its rounds eagerly as labels advance.
  */
object Dedup {

  /** Exact dedup: one row per distinct normalized text, keeping the lowest
    * id as the canonical document. Plain hash-aggregate — partial (map-side)
    * aggregation makes this a single shuffle of (hash → id,count). */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Duplicate-survivor LOSS WEIGHTS — the soft alternative to dropping
    * exact duplicates: every copy stays in the corpus but carries
    * weight = 1e6 div n_copies, so a document's total gradient mass is
    * independent of how many times the crawl caught it (the
    * repetition-control lever when provenance wants copies kept).
    * One fingerprint agg + a join back on the fingerprint — the same
    * single-shuffle shape as [[exact]], plus the fp-keyed join. */
  def duplicateWeights(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sizes = docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_copies"))
    docs.select(col(idCol).as("doc"), fingerprint(col(textCol)).as("fp"))
      .join(sizes, "fp")
      .select(col("doc"), col("n_copies"),
        expr("1000000 div n_copies").as("weight_micro"))
  }

  /** Distinct (doc, shingle) rows — the shared intermediate of every
    * shingle-based dedup variant. Uniqueness is established INSIDE the
    * shingle kernel (per-document set), so no corpus-wide distinct shuffle
    * is needed — rows come out of the scan already unique per doc. */
  private def shingleRows(docs: DataFrame, textCol: String, idCol: String,
                          shingleSize: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize)).as("shingle"))

  /** Benchmark decontamination: for each training document, the count and
    * fraction of its distinct n-gram shingles that also appear anywhere in
    * the benchmark set — the standard eval-overlap flag of an LLM data
    * pipeline. Returns only contaminated documents (n_overlap >= 1).
    *
    * Scale shape: the BENCHMARK side (eval sets — megabytes, not
    * terabytes) collapses to a distinct shingle set and broadcasts, so the
    * training corpus is probed scan-side by a broadcast hash join and
    * NEVER shuffles for the membership test. The only shuffled rows are
    * the matches (corpus-fraction, map-side combinable count); each
    * document's total shingle count comes from the array length inside the
    * projection, not a corpus-wide aggregate. */
  def decontaminate(train: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, shingleSize: Int = 3): DataFrame = {
    // Shingle the text ONCE per side: the array is named in its own
    // projection and the REFERENCE is exploded (two syntactic kernel calls
    // in one select are two physical evaluations — Project and Generate
    // don't share subexpressions). explode_outer, NOT explode: the
    // non-outer form triggers InferFiltersFromGenerate, whose size/notnull
    // predicates push below the defining projection and SUBSTITUTE the
    // kernel — a third evaluation per row in a scan-side filter. The outer
    // form's null row (an empty doc) dies in the inner join.
    val benchSh = bench
      .select(explode_outer(
        graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize))
        .as("shingle"))
      .filter(col("shingle").isNotNull) // generated attr: stays ABOVE the Generate
      .distinct()
    val trainSh = train
      .select(col(idCol).as("doc"),
        graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize).as("__sh"))
      .select(col("doc"), size(col("__sh")).cast("long").as("n_shingles"),
        explode_outer(col("__sh")).as("shingle"))
    trainSh.join(broadcast(benchSh), "shingle")
      .groupBy("doc", "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("doc"), col("n_shingles"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_shingles"), 4)
          .as("contam_frac"))
  }

  /** Per-cluster survivor selection: given `nearDupClusters` labels and the
    * documents, keep ONE document per cluster — the one maximizing
    * `priorityCol` (ties broken by the lowest id, fully deterministic).
    * Returns (cluster_id, n_members, keep_id, kept_priority).
    *
    * Shape: a single map-side-combinable hash aggregate over the labeled
    * rows — max(struct(priority, -id)) is an argmax that partial-aggregates
    * on the map side, unlike a row_number window (which must co-locate and
    * SORT each cluster's rows). Labels are pair-graph-sized, orders of
    * magnitude smaller than the corpus. */
  def clusterSurvivors(clusters: DataFrame, docs: DataFrame, idCol: String,
                       priorityCol: String): DataFrame = {
    val labeled = clusters.join(
      docs.select(col(idCol).as("id"), col(priorityCol)), "id")
    labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(priorityCol).as("p"), (-col("id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.neg_id")).as("keep_id"),
        col("best.p").as("kept_priority"))
  }

  /** Materialize the near-dup cluster labels as a stored table — the dedup
    * counterpart of `Similarity.buildIvfIndex`: the minhash+CC kernel runs
    * ONCE at build time, and every downstream curation stage (survivor
    * selection, keep/drop joins, incremental delta checks) equi-joins the
    * stored labels instead of re-deriving them. At 100 TB the kernel is
    * hours of cluster time; three pipeline stages re-running it inline
    * (the shape the standalone oracle queries necessarily have) is exactly
    * what this avoids.
    *
    * Strict convergence is the DEFAULT here, unlike the exploratory
    * `nearDupClusters`: a stored label table feeds KEEP/DROP joins with no
    * oracle compare downstream, so a component whose diameter outruns
    * `maxIters` must fail the build, not ship split cluster ids that let
    * both halves of a near-dup pair survive dedup. */
  def buildClusterTable(docs: DataFrame, textCol: String, idCol: String,
                        dir: String, numHashes: Int = 16, rowsPerBand: Int = 4,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxIters: Int = 20, strict: Boolean = true): Unit =
    nearDupClusters(minhashNearDups(docs, textCol, idCol,
      numHashes, rowsPerBand, shingleSize, threshold), maxIters, strict)
      .write.mode("overwrite").parquet(dir)

  def readClusterTable(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame =
    spark.read.parquet(dir)

  /** MinHash signature: `numHashes` hash functions, one min() agg column
    * each — a single shuffle of the shingle rows, no row explosion, all
    * map-side combinable.
    *
    * Hash family (md5, which the DuckDB twin reproduces): hash j is the
    * 32-bit LANE j%4 (an 8-hex-char substring) of md5("<j/4>:" ++ shingle) — four full
    * md5 evaluations per shingle yield 16 lanes, and codegen's subexpression
    * elimination computes each md5 once per row, so the hashing cost is 4
    * digests instead of 16 (measured: the signature stage was the pipeline's
    * dominant cost at 16 digests). Lanes are disjoint bit-ranges of a
    * cryptographic digest — independent in the way MinHash needs. This is
    * NOT the degenerate double-hashing family (h1 + j·h2) that round 1
    * tried and reverted: there every seed's argmin collapsed to one
    * shingle and J≈0.8 near-dups were missed SYSTEMATICALLY; the
    * DedupScaleModeSpec recall test pins the distinction. Min over
    * lowercase-hex strings == min over the 32-bit values (hex order is
    * monotone), which is what makes the DuckDB twin exact.
    */
  private def signatures(sh: DataFrame, numHashes: Int): DataFrame = {
    // The agg runs over LONGs (optimization r13): min over a STRING
    // buffer is not hash-aggregable (immutable buffer type), so the
    // 16 min(substring(md5..)) aggs forced a SortAggregate — two
    // full sorts of the shingle relation (partial + final) per side in
    // every minhash plan. min over the PARSED 32-bit lane value is the
    // same ordering (8 fixed lowercase hex chars compare lexicographically
    // exactly as their uint32 values — the monotonicity the DuckDB twin
    // already relies on), keeps a primitive agg buffer, and
    // [[bandsFromSignatures]] reformats the winners back to the identical
    // hex strings, so band keys — and the stored band indexes — are
    // bit-for-bit unchanged. Plan: SortAggregate → HashAggregate, 2 sorts
    // removed (plans/r13/q_dedup_minhash_{before,after}.txt).
    def h(j: Int): Column =
      min(conv(substring(md5(concat(lit(s"${j / 4}:"), col("shingle"))), 1 + 8 * (j % 4), 8), 16, 10).cast("long"))
    val aggs = (0 until numHashes).map(j => h(j).as(s"mh$j"))
    sh.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: band b's key = md5 of minhashes [b*r, b*r+r) joined with
    * '|'. Docs sharing any band key become candidate pairs — the classic
    * S-curve: near-duplicates collide in ≥1 band w.h.p., unrelated docs
    * almost never do. Output: (doc, band, band_key), unpivoted for the
    * bucket self-join. */
  private def bandsFromSignatures(sig: DataFrame, numHashes: Int,
                                  rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // the signature agg carries each lane as its uint32 value
    // (hash-aggregable — see [[signatures]]); reformat to the original
    // 8-char lowercase hex HERE, one projection at document grain, so the
    // band keys are bit-identical to the hex-string form the oracle twin
    // and the stored band indexes use.
    def lane(idx: Int): Column = lpad(lower(hex(col(s"mh$idx"))), 8, "0")
    val bandStructs = (0 until numBands).map { b =>
      val key = md5(concat_ws("|", (0 until rowsPerBand).map(r => lane(b * rowsPerBand + r)): _*))
      struct(lit(b).as("band"), key.as("band_key"))
    }
    sig.select(col("doc"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Per-document LSH band keys (public hook for incremental dedup: new
    * documents join existing band buckets without rescanning the corpus). */
  def minhashBands(docs: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 16, rowsPerBand: Int = 4,
                   shingleSize: Int = 3): DataFrame =
    bandsFromSignatures(
      signatures(shingleRows(docs, textCol, idCol, shingleSize), numHashes),
      numHashes, rowsPerBand)

  /** Raw banded candidate pairs (id_a < id_b, distinct) WITHOUT the Jaccard
    * verify — what the LSH stage alone proposes. Exists so candidate
    * quality can be measured ([[lshCandidateEval]]) and so callers can swap
    * in a different verifier. */
  def minhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
                            numHashes: Int = 16, rowsPerBand: Int = 4,
                            shingleSize: Int = 3): DataFrame =
    // persist: both sides of the bucket self-join read the band relation
    // (see the minhashNearDups note — broadcast build cannot reuse the
    // probe side's plan, so each side would re-run the signature kernel)
    bandCandidates(minhashBands(docs, textCol, idCol, numHashes, rowsPerBand,
      shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** MEASURE-BEFORE-SHIP for the LSH banding plan — the dedup counterpart
    * of `Similarity.annRecallEval`: recall (what fraction of true ≥
    * `threshold` Jaccard pairs does banding surface?) and precision (what
    * fraction of surfaced candidates are true?) of the band candidates
    * against the exact df-cut n-gram Jaccard lane. [[lshBandPlan]] predicts
    * these curves analytically; this measures them on YOUR corpus, which is
    * the number you tune b×r against. One row: (n_true, n_cand, n_hit,
    * recall_bp, precision_bp), floored basis points.
    *
    * Scale: both inputs are candidate-bounded relations (df-cut self-join /
    * band buckets — never corpus²); the comparison joins pair keys. On a
    * 100 TB corpus run it on a hash-sliced sample of documents — the curve,
    * not the corpus, is the deliverable. */
  def lshCandidateEval(docs: DataFrame, textCol: String, idCol: String,
                       numHashes: Int = 16, rowsPerBand: Int = 4,
                       shingleSize: Int = 3, threshold: Double = 0.5,
                       maxDf: Int = 100): DataFrame = {
    // Eager localCheckpoints (NOT the usual lazy persist): the inner
    // lanes carry their own persists whose blocks would otherwise stay
    // pinned for the life of this 6-way reuse plan — materializing here
    // releases the inner caches immediately and truncates lineage to two
    // small pair relations. Deliberate exception to the lazy-persist
    // convention; the truncation trade-off is fine because both inputs
    // are candidate-bounded (tiny) and this is a diagnostic, not a
    // production lineage.
    val truth = ngramJaccardPairs(docs, textCol, idCol, shingleSize,
        threshold, maxDf)
      .select(col("id_a"), col("id_b"))
      // ckpt: one-shot — candidate-bounded diagnostic relation
      .localCheckpoint(eager = true)
    val pred = minhashCandidatePairs(docs, textCol, idCol, numHashes,
        rowsPerBand, shingleSize)
      // ckpt: one-shot — candidate-bounded diagnostic relation
      .localCheckpoint(eager = true)
    val hit = truth.join(pred, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(pred.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0, expr("(10000 * n_hit) div n_true"))
          .otherwise(lit(0L)).cast("long").as("recall_bp"),
        when(col("n_cand") > 0, expr("(10000 * n_hit) div n_cand"))
          .otherwise(lit(0L)).cast("long").as("precision_bp"))
  }

  /** Candidate near-duplicate pairs from MinHash LSH, verified with the true
    * n-gram Jaccard and filtered at `threshold`. Output: (id_a, id_b,
    * jaccard) with id_a < id_b. The verify join only touches candidate
    * pairs, so the expensive exact Jaccard runs on a tiny fraction of the
    * corpus. */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      numHashes: Int = 16, rowsPerBand: Int = 4,
                      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    // The (doc, shingle) relation feeds BOTH candidate generation and the
    // Jaccard verify — materialize it once instead of re-deriving from text.
    // (At cluster scale this would be a checkpointed intermediate table.)
    val sh = shingleRows(docs, textCol, idCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Band relation persisted like editDistancePairs' (optimization r14):
    // the bucket self-join broadcasts one side, and a broadcast exchange
    // cannot reuse the probe side's plan — without the persist EACH side
    // re-executes the corpus-grain shingle+signature kernel (stage
    // profile: twin md5-heavy stages in every minhash query). 4 small rows per
    // doc: cheap to hold, lazy, cached until unpersist/clearCache.
    val bands = bandsFromSignatures(signatures(sh, numHashes),
        numHashes, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyJaccardOnShingles(sh, bandCandidates(bands), threshold)
  }

  /** Materialize the minhash dedup index: the band relation (candidate
    * generation) AND the (doc, shingle) relation (the Jaccard verify's
    * input) as stored tables — the batch counterpart of the streaming
    * band index `CurationStream.nearDupIngest` maintains, and the dedup
    * sibling of `Similarity.buildIvfIndex`. The text-derived kernels
    * (shingling, 4 md5 digests per shingle, banding) run ONCE at build;
    * every later pairs/clusters/survivors pass — and every threshold
    * re-tune, the common iteration loop — joins the stored relations
    * without touching document text again. At 100 TB the signature
    * kernel is the dominant dedup cost; paying it per-query is exactly
    * what an index exists to stop. */
  def buildDedupIndex(docs: DataFrame, textCol: String, idCol: String,
                      dir: String, numHashes: Int = 16, rowsPerBand: Int = 4,
                      shingleSize: Int = 3): Unit = {
    val sh = shingleRows(docs, textCol, idCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandsFromSignatures(signatures(sh, numHashes), numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(dir + "/bands")
    sh.write.mode("overwrite").parquet(dir + "/shingles")
    sh.unpersist(); ()
  }

  /** Near-dup pairs from a STORED dedup index — `minhashNearDups`
    * semantics with the kernel cost already paid: candidates from the
    * stored bands, exact Jaccard from the stored shingles. The threshold
    * is a free parameter here (the verify re-runs over stored relations),
    * which is what makes threshold tuning cheap against an index. */
  def nearDupsFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val sh = spark.read.parquet(dir + "/shingles")
    val bands = spark.read.parquet(dir + "/bands")
    verifyJaccardOnShingles(sh, bandCandidates(bands), threshold)
  }

  /** Candidate pairs from a band relation: same-bucket docs, ordered ids,
    * one row per pair (the distinct collapses multi-band collisions). The
    * Scala twin of the oracle's `cand` CTE — shared by the Jaccard and
    * Levenshtein verifies. */
  /** Spread a candidate-pair relation across the cores before a CPU-dense
    * per-pair verify (thresholded Levenshtein). Candidate rows are ~16
    * bytes of ids, so AQE's byte-based coalescing packs them into one or
    * two partitions — and the verify, whose cost is O(maxDist·len) per
    * ROW, serializes onto one core (optimization r13 profile:
    * q_link_tables spent 6.2 of 9.4 s in two single-task verify stages; a
    * session-wide lower coalescing floor fixed it but taxed every other
    * query, so the spread is explicit and local to the verify lanes).
    * The exchange carries only id pairs — trivially small at any corpus
    * size relative to the verify it unblocks. */
  private def spreadPairs(cand: DataFrame): DataFrame =
    cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)

  private def bandCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("band_key"), col("doc").as("id_a"))
    val b = bands.select(col("band"), col("band_key"), col("doc").as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Edit-distance-verified near-dup pairs: MinHash band candidates,
    * verified with character-level Levenshtein ≤ `maxDist`. The character
    * verify catches the class shingle-Jaccard under-weights — a handful of
    * scattered single-character edits barely moves a 3-gram set, but a
    * template-instantiated pair ("v1.2" → "v1.3" everywhere) is exactly
    * edit-distance-small. Output: (id_a, id_b, edit_dist), id_a < id_b.
    *
    * Scale shape: Levenshtein is O(|a|·|b|) PER PAIR — the one cost rule
    * of this operator is that it must never see the corpus cross product,
    * so it runs only on the banded candidate set (corpus-linear by the LSH
    * argument). The verify uses the thresholded kernel
    * (`levenshtein(a, b, maxDist)`): the DP band-prunes and early-exits
    * at maxDist+1, so a candidate pair of two long UNRELATED docs costs
    * O(maxDist·len), not O(len²). Texts join the candidate set by id —
    * only candidate rows carry text through the shuffle. */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
                        maxDist: Int, numHashes: Int = 16, rowsPerBand: Int = 4,
                        shingleSize: Int = 3): DataFrame = {
    // The band relation feeds BOTH sides of the candidate self-join —
    // without a persist each branch recomputes the full shingle+signature
    // kernel (measured 1.5× wall at sf1). 4 small rows per doc: cheap to
    // hold, lazy, cached until unpersist/clearCache.
    val bands = minhashBands(docs, textCol, idCol, numHashes, rowsPerBand,
      shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = spreadPairs(bandCandidates(bands))
    val texts = docs.select(col(idCol), col(textCol))
    candidates
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__ta")), Seq("id_a"))
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__tb")), Seq("id_b"))
      // thresholded form returns -1 above maxDist — the filter is the verify
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Fuzzy record linkage ACROSS two tables — the two-system entity-
    * resolution form of [[editDistancePairs]]: each side shingles and
    * bands independently (the SAME kernel, so equal text always collides),
    * candidates arise only where a band bucket spans the tables, and the
    * thresholded Levenshtein verifies. Returns (id_l, id_r, edit_dist) —
    * a left record may match several right records; pick winners with the
    * usual min(struct) argmax downstream.
    *
    * Scale shape: per-side cost is the dedup index build (4 small rows
    * per record); the cross-table join is keyed on (band, band_key) —
    * candidates, not the cross product, flow to the verify; the verify is
    * the band-pruned O(maxDist·len) Levenshtein. The classic blocking +
    * comparison architecture of record linkage, with MinHash as the
    * blocking key so it tolerates token reordering and edits that
    * break exact/phonetic blocking. */
  def linkTables(left: DataFrame, leftText: String, leftId: String,
                 right: DataFrame, rightText: String, rightId: String,
                 maxDist: Int, numHashes: Int = 16, rowsPerBand: Int = 4,
                 shingleSize: Int = 3): DataFrame = {
    val lb = minhashBands(left, leftText, leftId, numHashes, rowsPerBand,
      shingleSize)
    val rb = minhashBands(right, rightText, rightId, numHashes, rowsPerBand,
      shingleSize)
    verifyLinkCandidates(lb, rb,
      left.select(col(leftId).as("id_l"), col(leftText).as("__tl")),
      right.select(col(rightId).as("id_r"), col(rightText).as("__tr")),
      maxDist)
  }

  /** The shared candidates → verify tail of BOTH linkage lanes: band-key
    * equi-join of the two band relations, distinct pair set, thresholded
    * Levenshtein against the (id_l, __tl)/(id_r, __tr) text relations.
    * ONE implementation on purpose — q_link_tables and q_link_indexed
    * share a single oracle SQL on the premise the kernels are identical,
    * so the kernel must have a single home. */
  private def verifyLinkCandidates(leftBands: DataFrame, rightBands: DataFrame,
                                   leftTexts: DataFrame, rightTexts: DataFrame,
                                   maxDist: Int): DataFrame = {
    val cand = leftBands
      .select(col("band"), col("band_key"), col("doc").as("id_l"))
      .join(rightBands
        .select(col("band"), col("band_key"), col("doc").as("id_r")),
        Seq("band", "band_key"))
      .select("id_l", "id_r").distinct()
    spreadPairs(cand)
      .join(leftTexts, Seq("id_l"))
      .join(rightTexts, Seq("id_r"))
      .select(col("id_l"), col("id_r"),
        levenshtein(col("__tl"), col("__tr"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Build the stored LINKAGE index for a reference table — the
    * [[buildDedupIndex]] twin for cross-table matching: the band relation
    * (blocking keys) plus the verify texts, so every incoming table links
    * against the reference WITHOUT re-running the reference side's
    * shingle+MinHash kernel. At 100 TB the reference side (the master
    * entity table) is indexed once; per-ingest cost is the DELTA side's
    * kernel + a candidates-sized verify. */
  def buildLinkIndex(left: DataFrame, leftText: String, leftId: String,
                     dir: String, numHashes: Int = 16, rowsPerBand: Int = 4,
                     shingleSize: Int = 3): Unit = {
    // texts FIRST — the same crash-ordering appendLinkIndex argues: a
    // caller REBUILDING over an existing index that crashes between the
    // two writes leaves fresh texts + stale bands, which only costs
    // recall (stale blocking misses new candidates; the verify distances
    // are still computed on real texts). The reverse order would pair
    // fresh bands with stale texts and VERIFY against the wrong strings —
    // silently wrong output. linkAgainstIndex additionally refuses to
    // read an index whose either half lacks its _SUCCESS marker.
    left.select(col(leftId).as("id_l"), col(leftText).as("__tl"))
      .write.mode("overwrite").parquet(dir + "/texts")
    minhashBands(left, leftText, leftId, numHashes, rowsPerBand,
        shingleSize)
      .write.mode("overwrite").parquet(dir + "/bands")
    ()
  }

  /** Grow a stored [[buildLinkIndex]] reference WITHOUT rebuilding it:
    * the delta's bands and verify texts append to the stored relations
    * (banding is per-record, so append IS the correct merge). Append-only
    * id discipline: re-appending an id duplicates its bands/texts (the
    * AnnIngest/appendBm25Stats rule — dedup reference deltas upstream);
    * on a production cluster write through a transactional table format. */
  def appendLinkIndex(delta: DataFrame, textCol: String, idCol: String,
                      dir: String, numHashes: Int = 16, rowsPerBand: Int = 4,
                      shingleSize: Int = 3): Unit = {
    // texts append FIRST: the two appends are not atomic together, and
    // the failure modes differ — orphaned texts (crash after the first
    // append) are invisible (no bands -> no candidates; the retry makes
    // the id live), while orphaned BANDS would generate candidates whose
    // verify join silently drops them forever. The retry's duplicate
    // texts rows are absorbed by linkAgainstIndex's exact-duplicate
    // collapse.
    delta.select(col(idCol).as("id_l"), col(textCol).as("__tl"))
      .write.mode("append").parquet(dir + "/texts")
    minhashBands(delta, textCol, idCol, numHashes, rowsPerBand,
        shingleSize)
      .write.mode("append").parquet(dir + "/bands")
    ()
  }

  /** [[linkTables]] semantics with the reference side's kernel cost
    * ALREADY PAID: candidates come from the stored band relation, the
    * verify joins the stored texts. Output is bit-identical to
    * linkTables over the same ID-UNIQUE sides (the append-only id
    * discipline both lanes require; the stored bands ARE the same
    * hash-family bands) — only the cost moves. A reference side with
    * duplicate (id, text) rows diverges: the stored-texts read collapses
    * exact duplicates (retry idempotence) while the inline lane would
    * emit one output row per copy. */
  def linkAgainstIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       right: DataFrame, rightText: String, rightId: String,
                       maxDist: Int, numHashes: Int = 16, rowsPerBand: Int = 4,
                       shingleSize: Int = 3): DataFrame = {
    // both halves must be committed writes: a half-written index (crash
    // mid-build/mid-rebuild) must fail loudly here, not verify against
    // whatever files happen to exist
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (half <- Seq("texts", "bands"))
      require(fs.exists(new Path(s"$dir/$half/_SUCCESS")),
        s"link index at $dir has no committed $half write " +
          "(missing _SUCCESS) — rebuild the index before probing it")
    val lb = spark.read.parquet(dir + "/bands")
    // exact-duplicate collapse: a retried appendLinkIndex re-appends the
    // same (id, text) rows; (id_l, __tl)-distinct restores one row per
    // record without masking a REAL id conflict (different texts under
    // one id keep both rows — the upstream-dedup contract surfaces them)
    val lt = spark.read.parquet(dir + "/texts").dropDuplicates("id_l", "__tl")
    val rb = minhashBands(right, rightText, rightId, numHashes, rowsPerBand,
      shingleSize)
    verifyLinkCandidates(lb, rb, lt,
      right.select(col(rightId).as("id_r"), col(rightText).as("__tr")),
      maxDist)
  }

  /** Bloom-filter decontamination — `decontaminate` for when the benchmark
    * side is too big to broadcast raw (a full eval-suite union: hundreds of
    * millions of shingles, GBs of strings). The bench shingle set collapses
    * to a Bloom filter (~1.2 bytes/item at 1% fpp — 100M shingles ≈ 120 MB,
    * broadcastable where the raw strings are not); the corpus probes it
    * SCAN-SIDE, so ~99% of non-overlapping shingle rows die before any
    * shuffle; the survivors then shuffle-join the real bench set for the
    * exact verify. False positives cost only a wasted verify row — the
    * output is bit-identical to `decontaminate` (pinned in spec), so the
    * Bloom stage is pure shuffle-volume reduction.
    *
    * The probe is the native [[graft.expressions.BloomMightContain]]
    * expression: the filter travels by torrent broadcast (not as a plan
    * literal, which is what Spark's own BloomFilterMightContain would
    * force) and the probe itself stays inside whole-stage codegen. */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, shingleSize: Int = 3,
                         expectedItems: Long = -1L,
                         fpp: Double = 0.01): DataFrame = {
    // The bench shingle set feeds TWO consumers: the Bloom build (an eager
    // action at construction time) and the exact-verify join — persist so
    // the distinct runs once, not twice. Same single-kernel explode_outer
    // shape as `decontaminate` (see the comment there).
    val benchSh = bench
      .select(explode_outer(
        graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize))
        .as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Default sizing comes from the ACTUAL distinct count (the build is
    // already an eager action over the persisted set, so the count is one
    // cheap extra pass): a fixed default silently saturates at the
    // 100M-shingle scale this operator targets — fill ratio → 1, fpp → 1,
    // and the pre-filter degrades to a no-op that still pays its build.
    val items = if (expectedItems > 0) expectedItems
      else math.max(benchSh.count(), 1L)
    val bf = benchSh.stat.bloomFilter("shingle", items, fpp)
    val bfB = train.sparkSession.sparkContext.broadcast(bf)
    def mightContain(c: org.apache.spark.sql.Column) =
      graft.expressions.Exprs.bloomMightContain(c, bfB)
    // single kernel evaluation per row — same reference-explode shape as
    // `decontaminate`
    val trainSh = train
      .select(col(idCol).as("doc"),
        graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize).as("__sh"))
      .select(col("doc"), size(col("__sh")).cast("long").as("n_shingles"),
        explode_outer(col("__sh")).as("shingle"))
      .filter(mightContain(col("shingle")))
    // exact verify: a plain (shuffle) join by design — the scenario is
    // "bench too big to broadcast"; survivors are corpus-sublinear
    trainSh.join(benchSh, "shingle")
      .groupBy("doc", "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("doc"), col("n_shingles"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_shingles"), 4)
          .as("contam_frac"))
  }

  /** Exact n-gram Jaccard for a given pair set: |A ∩ B| / |A ∪ B| over
    * distinct shingles. Expressed as explode + two semi-shuffles — never
    * materializes shingle sets in memory. */
  private def verifyJaccardOnShingles(sh: DataFrame, pairs: DataFrame,
                                      threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    // Shingle equality is part of the SECOND join's key — joining on id_b
    // alone and filtering afterwards would materialize an |A|×|B| shingle
    // cross product per candidate pair (measured 30M rows for 11k pairs).
    val inter = pairs
      .join(sh.select(col("doc").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(round(col("jaccard"), 4) >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-duplicate pairs: band each 64-bit fingerprint into four
    * 16-bit chunks; fingerprints within Hamming distance d <= 3 of each
    * other MUST share at least one chunk (pigeonhole), so chunk buckets are
    * a lossless candidate filter at that radius (and a high-recall one a
    * bit beyond); candidates verify with the codegen'd Hamming kernel.
    * Output: (id_a, id_b, hamming) with id_a < id_b. */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      maxDist: Int = 3, packed: Boolean = true): DataFrame =
    if (packed) simhashNearDupsPacked(docs, textCol, idCol, maxDist)
    else {
      // Bit-string form: engine-portable (anchors the DuckDB oracle and the
      // packed≡string equivalence spec), but every fingerprint is 64 chars —
      // ~8× the shuffle bytes of the packed-long default below.
      val sh = simhash(docs, textCol, idCol)
      val chunks = sh
        .select(col("doc"), col("simhash"), explode(sequence(lit(0), lit(3))).as("chunk_id"))
        .withColumn("chunk", substr(col("simhash"), lit(1) + lit(16) * col("chunk_id"), lit(16)))
      val a = chunks.select(col("chunk_id"), col("chunk"), col("doc").as("id_a"), col("simhash").as("sa"))
      val b = chunks.select(col("chunk_id"), col("chunk"), col("doc").as("id_b"), col("simhash").as("sb"))
      a.join(b, Seq("chunk_id", "chunk"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "sa", "sb").distinct()
        .select(col("id_a"), col("id_b"),
          graft.expressions.Exprs.hammingDist(col("sa"), col("sb")).as("hamming"))
        .filter(col("hamming") <= maxDist)
    }

  /** Scale default for SimHash pairing: fingerprints travel as one BIGINT
    * (8 bytes vs the 64-char bit string's ~72), chunk keys as 16-bit ints,
    * and the Hamming verify is `bit_count(sa ^ sb)` — a single codegen'd
    * POPCNT instead of a 64-char loop. Identical pairs and distances to the
    * string form (pinned by DedupPackedSpec). */
  private def simhashNearDupsPacked(docs: DataFrame, textCol: String, idCol: String,
                                    maxDist: Int): DataFrame =
    pairsFromPackedFingerprints(simhashPacked(docs, textCol, idCol), maxDist)

  /** Public face of the packed-fingerprint pair kernel for OTHER hash
    * families (the media lane's perceptual hashes ride it unchanged):
    * 16-bit chunk banding over any 64-bit fingerprint column,
    * pigeonhole-lossless at Hamming ≤ 3. */
  def packedHammingPairs(fp: DataFrame, idCol: String, hashCol: String,
                         maxDist: Int): DataFrame =
    pairsFromPackedFingerprints(
      fp.select(col(idCol).as("doc"), col(hashCol).as("simhash")), maxDist)

  private def pairsFromPackedFingerprints(sh: DataFrame, maxDist: Int): DataFrame = {
    // 4 chunk structs instead of explode+variable shift: shiftrightunsigned
    // needs a literal shift amount, and 4 unrolled extractions stay in one
    // codegen'd projection anyway.
    val chunkStructs = (0 until 4).map { c =>
      struct(lit(c).as("chunk_id"),
        shiftrightunsigned(col("simhash"), 16 * c).bitwiseAND(lit(0xFFFFL)).cast("int").as("chunk"))
    }
    val chunks = sh.select(col("doc"), col("simhash"), explode(array(chunkStructs: _*)).as("ck"))
      .select(col("doc"), col("simhash"), col("ck.chunk_id").as("chunk_id"), col("ck.chunk").as("chunk"))
    val a = chunks.select(col("chunk_id"), col("chunk"), col("doc").as("id_a"), col("simhash").as("sa"))
    val b = chunks.select(col("chunk_id"), col("chunk"), col("doc").as("id_b"), col("simhash").as("sb"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sa", "sb").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Connected-components clustering over near-duplicate pairs — the
    * dedup DECISION step: every document in a component keeps the
    * component's minimum id as its cluster id (the canonical survivor).
    *
    * Iterative min-label propagation: each round, every node takes the min
    * of its own label and its neighbours' labels; converges in O(component
    * diameter) rounds (near-dup clusters are shallow — pairs chain through
    * shared content). Each round is one distributed join+aggregate; the
    * driver only orchestrates the loop and checks the fixpoint, never
    * holds data. Output: (id, cluster_id) for every id appearing in a pair.
    */
  /** `strict = true` turns maxIters exhaustion into an exception instead of
    * a warning: a 100× pipeline that feeds cluster ids into a KEEP/DROP
    * decision must not silently ship partially-propagated labels (documents
    * of one component split across two cluster ids → near-dups both
    * surviving dedup). Default stays warn-only for exploratory use. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20,
                      strict: Boolean = false): DataFrame = {
    // Each round's input is a checkpoint, not a growing plan: without the
    // truncation, round k's logical plan nests k join+aggregate layers —
    // re-analysis cost grows per round and a lost executor recomputes the
    // whole chain. `localCheckpoint` materializes the round's result and
    // replaces its lineage with a flat scan (round 1's measured fix for the
    // one `weak` scale verdict). On a real cluster with a checkpoint dir,
    // swap for reliable `checkpoint()` — localCheckpoint dies with its
    // executor; the plan shape is identical.
    // Materialize the pairs ONCE before symmetrizing (optimization r14,
    // guide §2.4): the union's two branches are two full plans of the
    // upstream candidate+verify pipeline — the corpus-grain shingle/
    // signature kernel executed TWICE per clustering call (stage
    // profile: twin md5-heavy stage families in every CC query). The
    // checkpoint is pairs-bounded (the relation CC loops over), built
    // once per call.
    val pairsOnce = org.apache.spark.sql.graft.ColumnBridge.flatCheckpoint(
      pairs.select(col("id_a"), col("id_b")))
    val edgesRaw = pairsOnce
      .union(pairsOnce.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // The loop runs over the PAIRS graph, which is orders of magnitude
    // smaller than the corpus that produced it — inheriting the corpus-scale
    // shuffle width would pay dozens of near-empty tasks per round. The loop
    // therefore runs on a CHILD session (cloneSession: shared SparkContext,
    // a COPY of the caller's SQLConf — runtime ANSI/timezone/codegen flags
    // all carry over) with only the shuffle width narrowed, so concurrent
    // queries on the caller's session never see it and no restore step can
    // be skipped by a killed driver. edgesRaw.rdd plans the corpus-scale
    // pairs pipeline under the PARENT session (corpus-scale conf), and the
    // child frame is checkpointed ONCE — the single materialized copy both
    // the loop and loopParts sizing read.
    val parentSession = pairs.sparkSession
    val session = org.apache.spark.sql.graft.ColumnBridge.cloneSession(parentSession)
    // ckpt: one-shot — edges materialized ONCE pre-loop; the loop flat-checkpoints
    val e = session.createDataFrame(edgesRaw.rdd, edgesRaw.schema).localCheckpoint()
    val loopParts = math.max(4L,
      math.min(parentSession.conf.get("spark.sql.shuffle.partitions").toLong,
        e.count() / 500000L + 4L))
    session.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // PARTITION-LOCAL CONTRACTION (round 11): the global loop converges
    // in O(log diameter) rounds of FIXED job overhead, and a dense-plane
    // giant component (the DBSCAN shape) measured ~30 such rounds. One
    // shuffle-free union-find pass WITHIN each partition first collapses
    // every partition-local chain into a star around its minimum id; the
    // loop then runs on the star edges (id → local-min rep), whose
    // component structure is IDENTICAL (an original edge (a,b) implies
    // a–rep–b; partitions sharing a node x chain r1–x–r2) but whose
    // diameter is ~2× the cross-partition hop count, not the geometric
    // diameter. Round count now scales with inter-partition mergers.
    // Per-task memory is one long→long map over the partition's node
    // set — the same order a shuffle task already buffers. Long-id
    // graphs only (every production caller); other id types keep the
    // uncontracted edge set.
    val loopE: DataFrame =
      if (!e.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType)) e
      else {
        val enc = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)
        val star = e.select(col("id_a").as("_1"), col("id_b").as("_2"))
          .as[(Long, Long)](enc).mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (c != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          // materialize keys BEFORE the final finds: path compression
          // mutates the map, and LongMap iteration is not mutation-safe
          val ks = parent.keys.toArray
          ks.iterator.map(k => (k, find(k)))
        }(enc).toDF("id_a", "id_b")
        org.apache.spark.sql.graft.ColumnBridge.flatCheckpoint(
          star.union(star.select(col("id_b").as("id_a"),
            col("id_a").as("id_b"))))
      }
    // Initial labels fold round 1 in for free: instead of label(x) = x and
    // a join-round to pick up neighbours, the node-building aggregate
    // itself takes min(x, min neighbour) — near-dup components are shallow
    // (pairs chain through shared content), so this often IS the fixpoint
    // and the loop only confirms it.
    // STATS-FLAT checkpoints in this loop, deliberately (measured, round
    // 10): localCheckpoint truncates the plan but COPIES the origin
    // plan's size estimate into the LogicalRDD leaf — the self-join
    // squares it, the checkpoint preserves the square, and the estimate's
    // BigInteger doubles in bit length EVERY ROUND until the stats
    // visitor crawls for minutes and dies ("BigInteger would overflow
    // supported range", surfaced by the sf1 DBSCAN giant component at
    // ~30 rounds). flatCheckpoint rebuilds the leaf with originStats
    // dropped, so every round re-plans from the conf default and round
    // cost stays CONSTANT. See ColumnBridge.flatCheckpoint.
    def flat(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.ColumnBridge.flatCheckpoint(df)
    var labels = flat(loopE.groupBy(col("id_a").as("id"))
      .agg(min(least(col("id_a"), col("id_b"))).as("cluster_id")))
    // Labels only ever decrease (towards the component minimum), so the
    // fixpoint test is "did the label sum change" — one scalar aggregate
    // per round instead of a self-join diff. coalesce(..., 0) keeps the
    // empty-graph case (no pairs at all) a clean empty result, not an NPE.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("cluster_id"), lit(0L))).collect()(0).getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // Three label sources per round, expressed as a message union into ONE
      // min-aggregate (cheaper than chained left-joins — one shuffle-agg
      // stage instead of two extra join stages):
      //  - the node's own label (keeps every id in play);
      //  - neighbour labels (classic min-label propagation, O(diameter));
      //  - POINTER DOUBLING — the label OF the current label (labels
      //    self-join on cluster_id). Label chains halve every round, so
      //    convergence is O(log diameter) rounds instead of O(diameter):
      //    a 1000-link chain resolves in ~10 rounds.
      val own = labels.select(col("id"), col("cluster_id").as("cl"))
      val fromNeighbors = loopE
        .join(labels.withColumnRenamed("id", "id_b"), Seq("id_b"))
        .select(col("id_a").as("id"), col("cluster_id").as("cl"))
      val parent = labels.select(col("id").as("p_id"), col("cluster_id").as("p_cl"))
      val fromParent = labels.join(parent, col("cluster_id") === col("p_id"))
        .select(col("id"), col("p_cl").as("cl"))
      val updated = flat(own.union(fromNeighbors).union(fromParent)
        .groupBy("id").agg(min("cl").as("cluster_id")))
      val curSum = labelSum(updated)
      labels = updated
      converged = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    if (!converged) {
      val msg = s"nearDupClusters stopped at maxIters=$maxIters WITHOUT converging " +
        "(labelSum still changing) — components deeper than the doubling " +
        "horizon have partially-propagated cluster ids; raise maxIters."
      if (strict) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"nearDupClusters converged after $iter rounds")
    // Rebase the (small) result onto the CALLER's session so downstream
    // plans — the caller's orderBy, joins against corpus tables — run
    // under the caller's conf, not the loop's narrowed width.
    parentSession.createDataFrame(labels.rdd, labels.schema)
  }

  /** Exact n-gram Jaccard pairs above a threshold (no LSH pre-filter) — the
    * exact baseline the LSH path approximates. Sparse formulation: docs pair
    * up only through shared shingles (a self-join on the shingle value), so
    * disjoint documents never meet.
    *
    * Skew guard (`maxDf`): a shingle appearing in d documents contributes
    * d² candidate rows to the self-join — one boilerplate trigram shared by
    * 1% of a 100 TB corpus is a quadratic hot key. Candidate generation
    * therefore only pairs documents through shingles with document
    * frequency <= maxDf; high-df shingles contribute candidates, not
    * discrimination (any pair actually above `threshold` also shares rare
    * shingles). The Jaccard VERIFY still runs over the full shingle sets,
    * so reported scores are exact. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxDf: Int = 100): DataFrame =
    ngramIntersections(docs, textCol, idCol, shingleSize, maxDf)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(round(col("jaccard"), 4) >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold.
    * The asymmetric companion to [[ngramJaccardPairs]] — a short document
    * quoted whole inside a long one scores containment ≈ 1 while its
    * Jaccard (inter/union) stays near |A|/|B| and slips under any useful
    * Jaccard threshold. This is the dedup rule for subset/quote/expanded
    * re-post relationships. Same candidate generation, same skew guard,
    * same exact verify as the Jaccard form — only the final scoring
    * formula differs. */
  def ngramContainmentPairs(docs: DataFrame, textCol: String, idCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.5,
                            maxDf: Int = 100): DataFrame =
    ngramIntersections(docs, textCol, idCol, shingleSize, maxDf)
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(round(col("containment"), 4) >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))

  /** Shared kernel of the exact n-gram pair family: candidate pairs via the
    * df-cut rare-shingle self-join, exact intersection counts via the
    * rare+hot split, and both set sizes — (id_a, id_b, n_inter, n_a, n_b).
    * See [[ngramJaccardPairs]] for the plan rationale. */
  private def ngramIntersections(docs: DataFrame, textCol: String, idCol: String,
                                 shingleSize: Int, maxDf: Int): DataFrame = {
    val sh = shingleRows(docs, textCol, idCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The hot-shingle list is the vocabulary TAIL above maxDf — tiny by
    // construction (Zipf: few shingles are boilerplate-common), so it
    // broadcasts and the rare/hot split is two broadcast joins over the
    // persisted shingle relation instead of two shuffles of it.
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val hotShingles = dfreq.filter(col("df") > maxDf).select("shingle")
    val rare = sh.join(broadcast(hotShingles), Seq("shingle"), "left_anti")
    val hot = sh.join(broadcast(hotShingles), Seq("shingle"), "left_semi")
    // Split intersection: the rare self-join IS both candidate generation
    // and the rare part of the intersection count (one groupBy, no distinct
    // + re-join blowup — a verify-on-candidates restructure was measured 8×
    // slower because each candidate pair re-exploded against the full
    // shingle relation). Hot shingles (df > maxDf, the d² skew keys) are
    // excluded from the self-join and counted back per CANDIDATE pair only
    // — a join bounded by |pairs| × hot-shingles-per-doc, not df².
    val interRare = rare.alias("a").join(rare.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("n_rare"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val interHot = interRare.select("id_a", "id_b")
      .join(hot.select(col("doc").as("id_a"), col("shingle")), Seq("id_a"))
      .join(hot.select(col("doc").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_hot"))
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    interRare.join(interHot, Seq("id_a", "id_b"), "left")
      .withColumn("n_inter", col("n_rare") + coalesce(col("n_hot"), lit(0L)))
      .join(sizes.select(col("doc").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"))
  }

  /** SimHash: 64-bit locality-sensitive fingerprint. Bit k of the result is
    * the sign of Σ over tokens of (±1 from bit k of md5(token)). Documents
    * are near-duplicates when Hamming distance is small. Emitted as a 64-char
    * bit string (engine-portable; avoids signed-int bit-63 pitfalls).
    *
    * Plan shape: explode(tokens) × explode(64 bit positions) → two hash
    * aggregates. ~128 rows per document in flight, all map-side combinable.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val agged = simhashSums(docs, textCol, idCol)
    val bits = (0 until 64).map(k => when(col(s"s$k") > 0, "1").otherwise("0"))
    agged.select(col("doc"), concat(bits: _*).as("simhash"))
  }

  /** SimHash packed into one signed 64-bit BIGINT — same sign bits as the
    * string form (bit 0 of the string is the MSB), two's complement for the
    * top bit. The scale representation: 8 bytes through every shuffle and
    * `bit_count(a ^ b)` for Hamming distance. */
  def simhashPacked(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    packSums(simhashSums(docs, textCol, idCol))

  /** (doc, s0..s63) sign sums → one signed 64-bit BIGINT. Distinct powers
    * of two can't carry, so the OR is a sum; bit 0 maps to Long.MinValue
    * (two's complement MSB) and the 63 positive bits sum to at most
    * Long.MaxValue — no overflow even under ANSI mode. */
  private def packSums(agged: DataFrame): DataFrame = {
    val msb = when(col("s0") > 0, lit(Long.MinValue)).otherwise(lit(0L))
    val packed = (1 until 64).map { k =>
      when(col(s"s$k") > 0, lit(1L << (63 - k))).otherwise(lit(0L))
    }.foldLeft(msb)(_ + _)
    agged.select(col("doc"), packed.as("simhash"))
  }

  /** Shared SimHash kernel: (doc, s0..s63) signed bit-position sums.
    * Two structural choices keep this one codegen'd pass:
    *  - token multiplicity is a weight: aggregate (doc, token) → count and
    *    hash each distinct token ONCE (Σ contrib over duplicate rows ==
    *    Σ contrib·count over distinct rows);
    *  - the 64 bit positions are 64 sum() AGG COLUMNS over the token rows,
    *    not a 64× explode — no row multiplication, map-side combinable,
    *    and the bit arithmetic on 16 pre-extracted hex digits stays in
    *    whole-stage codegen. No collect_list/sort anywhere.
    * word_shingles(text, 1) == tokens, via the codegen kernel instead of
    * the interpreted filter(split(...)) chain; the empty-text edge case
    * ([""] vs []) is closed by the non-empty filter. */
  private def simhashSums(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShingles(col(textCol), 1)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc", "tok").agg(count(lit(1)).as("cnt"))
    val h = md5(col("tok"))
    // hex digit value via ascii arithmetic — '0'-'9' are 48-57, 'a'-'f'
    // are 97-102 (md5 is lowercase); avoids conv()'s per-digit string
    // radix parse, stays in codegen as two int ops
    val digits = (0 until 16).map { i =>
      val a = ascii(substring(h, i + 1, 1))
      when(a >= 97, a - 87).otherwise(a - 48).as(s"d$i")
    }
    val src = toks.select(col("doc") +: col("cnt") +: digits: _*)
    val sums = (0 until 64).map { k =>
      val d = col(s"d${k / 4}")
      // (d >> shift) & 1 — pure int ops; the floor(d / 2^s) % 2 form went
      // through a DOUBLE divide + floor + pmod, ×64 columns per row (the
      // DuckDB twin keeps `(d // p) % 2`, identical on 0..15)
      val bit = shiftright(d, 3 - k % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, col("cnt")).otherwise(-col("cnt"))).as(s"s$k")
    }
    src.groupBy("doc").agg(sums.head, sums.tail: _*)
  }

  /** A chosen LSH banding and its predicted behavior (see [[lshBandPlan]]):
    * `threshold50` is the Jaccard similarity at which a pair has a 50%
    * candidate probability (≈ (1/b)^(1/r)); `fpArea`/`fnArea` integrate
    * the S-curve's false-positive mass below the target threshold and
    * false-negative mass above it. */
  case class BandPlan(bands: Int, rowsPerBand: Int, threshold50: Double,
                      fpArea: Double, fnArea: Double)

  /** Plan the MinHash banding (b bands × r rows, b·r = `numHashes`) for a
    * target Jaccard `threshold` — the sizing lever every LSH caller here
    * (`minhashNearDups`, `buildBandIndex`, `linkTables`) exposes as raw
    * (numHashes, rowsPerBand) knobs. The candidate probability of a pair
    * at similarity s is the S-curve `1 − (1 − s^r)^b`; the plan picked
    * minimizes the integrated error — candidate mass below the threshold
    * (false-positive work: every candidate pays a verify) plus missed
    * mass above it (false negatives: near-dups that never become
    * candidates) — over all divisor pairs of `numHashes`, by midpoint
    * quadrature. `fnWeight` skews the objective when misses cost more
    * than wasted verifies (the usual dedup posture).
    *
    * Driver-side arithmetic only — nothing here touches data; the cost
    * of a bad plan at 100 TB (verify floods or silent dup survival) is
    * why the planner exists. */
  def lshBandPlan(threshold: Double, numHashes: Int,
                  fnWeight: Double = 1.0): BandPlan = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    require(numHashes >= 2, "need at least 2 hashes")
    val grid = 1000
    def err(b: Int, r: Int): Double = {
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < grid) {
        val s = (i + 0.5) / grid
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp += p else fn += (1.0 - p)
        i += 1
      }
      (fp + fnWeight * fn) / grid
    }
    val plans = for {
      r <- 1 to numHashes
      if numHashes % r == 0
      b = numHashes / r
    } yield (b, r, err(b, r))
    val (b, r, _) = plans.minBy(_._3)
    var fp = 0.0; var fn = 0.0
    (0 until grid).foreach { i =>
      val s = (i + 0.5) / grid
      val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      if (s < threshold) fp += p / grid else fn += (1.0 - p) / grid
    }
    BandPlan(b, r, math.pow(1.0 / b, 1.0 / r), fp, fn)
  }

  // ---------------------------------------------- cross-doc duplicate spans

  /** Token windows of `window` consecutive whitespace tokens per document:
    * (doc, start, win) with 1-based token positions. The shared kernel under
    * [[duplicateSpans]] and [[winnowFingerprints]]'s k-grams. One codegen'd
    * projection + Generate over the scan — output is ≈ one row per token. */
  private def tokenWindows(docs: DataFrame, textCol: String, idCol: String,
                           window: Int): DataFrame =
    docs.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= window)
      .select(col("doc"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - window),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(window))))))
      .select(col("doc"), (col("pos") + 1).cast("long").as("start"),
        col("col").as("win"))

  /** CROSS-document duplicate span detection (the "dedup the spans, not the
    * docs" pass of Lee et al. 2022, *Deduplicating Training Data Makes
    * Language Models Better*): every maximal token span covered by
    * `window`-token windows that occur in ≥ `minDocs` DISTINCT documents.
    * Doc-level dedup misses boilerplate stitched into otherwise-unique
    * pages; this finds the stitched spans themselves. Within-doc repeats
    * are deliberately out of scope (that's `repeatedSpans`) — the distinct-
    * doc count is what makes a window "shared infrastructure text".
    *
    * Shape: tokenize → windows (≈1 row/token) → groupBy window key with a
    * two-phase distinct-doc count → semi-join the windows back (AQE
    * broadcasts the dup set when small) → per-DOC gaps-and-islands merge
    * (adjacent/overlapping windows fuse when starts differ by ≤ `window`).
    * The only window function is partitioned by doc — bounded by document
    * length, never corpus-wide. At 100 TB: one shuffle on the window key,
    * one on doc for the merge; nothing quadratic, no global sort. Windows
    * are keyed on the raw window string, which the DuckDB twin reproduces.
    * Returns (doc, span_start, span_end, n_windows, span_len), token
    * positions 1-based inclusive. */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                     window: Int, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 2, "window must be >= 2 tokens")
    require(minDocs >= 2, "a span shared by < 2 docs is not a cross-doc dup")
    val wins = tokenWindows(docs, textCol, idCol, window)
      .select(col("doc"), col("start"), col("win").as("wkey"))
    val dupKeys = wins.groupBy("wkey")
      .agg(countDistinct(col("doc")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("wkey")
    val cand = wins.join(dupKeys, Seq("wkey"), "left_semi")
    val byDoc = Window.partitionBy("doc").orderBy("start")
    cand
      .withColumn("__newisl",
        when(col("start") - lag(col("start"), 1).over(byDoc) <= window, 0L)
          .otherwise(1L))
      .withColumn("__isl", sum(col("__newisl")).over(byDoc))
      .groupBy(col("doc"), col("__isl"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + window - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc"), col("span_start"), col("span_end"),
        col("n_windows"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  // ------------------------------------------------- winnowing fingerprints

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every `gram`-token k-gram, slide a window of
    * `w` consecutive k-gram hashes, and keep each window's RIGHTMOST
    * minimal hash. Guarantees: any shared run of `w + gram − 1` tokens
    * yields at least one shared fingerprint (no-miss), while storing only
    * ~2/(w+1) of the k-grams — position-robust dedup signatures at a
    * fraction of full-shingle cost, the classic alternative to MinHash when
    * you need to LOCATE the overlap, not just estimate Jaccard.
    *
    * The rightmost-minimal selection is one expression: minimize
    * `hash·2^20 + (2^20 − 1 − pos)` over a per-doc ROWS frame of `w`
    * k-grams (smaller hash wins, ties to the LARGER position), then
    * distinct-decode the packed winners. Safe: hash < 2^32 (md5 lane), so
    * the packed key < 2^52. Per-doc frames only — bounded by doc length.
    *
    * Returns one row per doc: (doc, n_kgrams, n_fps, n_shared) where
    * n_shared counts this doc's fingerprints whose hash also fingerprints
    * ≥ 1 OTHER doc — the MOSS match signal, computed fingerprint-vs-
    * fingerprint (vocabulary-sized relation), never corpus-vs-corpus. */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
                         gram: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, "winnow window must be >= 2")
    val P = 1L << 20 // > any doc's k-gram count; packs (hash, pos) losslessly
    val grams = tokenWindows(docs, textCol, idCol, gram)
      .select(col("doc"), col("start"),
        (Sketches.md5Hash32(col("win")) * P + (lit(P - 1) - col("start")))
          .as("pk"))
    val byDoc = Window.partitionBy("doc").orderBy("start")
    val frame = byDoc.rowsBetween(Window.currentRow, w - 1)
    val picked = grams
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("doc")))
      .withColumn("__rn", row_number().over(byDoc))
      .withColumn("__win_min", min(col("pk")).over(frame))
      // only full windows select (rows where a complete w-frame starts)
      .filter(col("__rn") <= col("__n") - w + 1)
      .select(col("doc"), col("__n").as("n_kgrams"), col("__win_min"))
      .distinct()
      // pk is positive (< 2^52), so a plain right shift recovers the hash
      // half exactly (Spark's `/` on longs would go through double)
      .select(col("doc"), col("n_kgrams"),
        shiftright(col("__win_min"), 20).as("fp_hash"))
    val shared = picked.groupBy("fp_hash")
      .agg(countDistinct(col("doc")).as("nd"))
      .filter(col("nd") >= 2)
      .select("fp_hash")
    picked
      .join(shared.withColumn("__sh", lit(1L)), Seq("fp_hash"), "left")
      .groupBy(col("doc"))
      .agg(max(col("n_kgrams")).as("n_kgrams"),
        count(lit(1)).as("n_fps"),
        sum(coalesce(col("__sh"), lit(0L))).as("n_shared"))
  }
}
