package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Barriers, Tables => T, QueryPack}
import graft.functions.Text

/** Dataset-governance and hybrid-retrieval audits — the operators a
  * training-data platform runs ON its curation outputs: hybrid search
  * fusion (the RAG serving shape), cross-source corpus overlap, privacy
  * risk, data-mixture reweighting, and embedding-space outlier triage.
  * Complements QualityOps (per-document gates) with corpus- and
  * pair-level accounting; reference analytics surface this extends:
  * /root/reference/PRD.md:737-1253.
  *
  * The determinism discipline matches the rest of the l-family: integer
  * arithmetic wherever a ratio is reported (cross-multiplied permille,
  * floor division), doubles only where both engines execute ONE shared
  * spelling on identical inputs (RRF's 1/(60+rank), fold-ordered
  * squared distances), ranks always tie-broken on a unique id.
  *
  * 100 TB design notes per operator:
  *  - l74 hybrid RRF: the corpus is scanned ONCE per anchor panel
  *    (a broadcast crossJoin — panel-bounded, like l71's probe panel);
  *    both rankings come from two row_number windows over the SAME
  *    anchor partitioning, so there is exactly one exchange keyed on
  *    anchor_id. Parallelism is |anchors| — a production panel is
  *    thousands of queries wide, and per-query state is top-depth only.
  *  - l75 source overlap: everything downstream of the DISTINCT
  *    (source, shingle-hash) projection is source-count- or
  *    slot-count-sized; the exact-intersection join is equi on the
  *    hash (linear in shared mass), and the signature estimate beside
  *    it is the O(sources² × 16) sketch a 100 TB run would keep when
  *    the exact join gets too hot — shipping both columns is the point:
  *    the operator measures its own estimator's error.
  *  - l76 k-anonymity: one hash aggregation on the quasi-identifier
  *    key, one rollup. COUNT(DISTINCT user) per cell is exact here;
  *    at extreme cardinality the k09 bitmap / k10 HLL rollups are the
  *    drop-in partials.
  *  - l77 mix reweight: per-source rollup (map-side combined), then
  *    arithmetic over |sources| rows; the global windows run on the
  *    post-aggregate frame, never the corpus.
  *  - l78 embedding outliers: per-dimension sums shuffle (label, dim)
  *    partials — corpus×dim rows map-side-combined down to
  *    |labels|×dim; the centroid table broadcasts back. Distances are
  *    EXACT integer differences (milli-unit lattice, n·x−Σx avoids
  *    the mean's division) squared and folded in array order, so both
  *    engines produce bit-identical doubles and the top-k per label is
  *    total.
  */
object AuditOps extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    T.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    T.load(s, dir, "embeddings")
      .withColumn("vec", col("embedding").cast("array<double>"))
  private def events(s: SparkSession, dir: String): DataFrame =
    T.load(s, dir, "events")

  // ---- l74: hybrid lexical+vector retrieval with RRF fusion -----------

  /** RRF smoothing constant (Cormack et al. SIGIR'09 use 60). */
  private val rrfK = 60
  /** Depth of each input ranking fed to the fusion. */
  private val rrfDepth = 50
  /** Anchor documents for the more-like-this panel. */
  private val rrfAnchors = Seq(0, 1, 2, 3)

  /** l74: hybrid "more-like-this" retrieval — the fusion step every
    * production RAG stack runs over its lexical index and its vector
    * index. For each anchor document, candidates are ranked twice:
    * lexically (distinct-token overlap with the anchor, desc) and by
    * embedding cosine (l09's exact spelling); the two rankings fuse by
    * reciprocal-rank: rrf = Σ 1/(60 + rank), summing only over lists
    * the candidate appears in (top-[[rrfDepth]], overlap > 0 for the
    * lexical list). Both input ranks are reported so the output shows
    * WHY a hit fused high (lexical-only, vector-only, or both — the
    * disagreement rows are the interesting ones).
    *
    * Determinism: ranks are integers with doc_id tie-breaks; the rrf
    * doubles come from one shared closed form over those integers. */
  private val hybridRrf: Q = (s, dir) => {
    val corpus = docs(s, dir)
      .select(col("doc_id"), array_distinct(Text.tokens(col("text"))).as("ts"))
      .join(embs(s, dir).select(col("vec_id"), col("vec")),
        col("doc_id") === col("vec_id"))
      .withColumn("nrm", Text.l2norm(col("vec")))
      .select(col("doc_id"), col("ts"), col("vec"), col("nrm"))
    val anchors = corpus.filter(col("doc_id").isInCollection(rrfAnchors))
      .select(col("doc_id").as("anchor_id"), col("ts").as("a_ts"),
        col("vec").as("a_vec"), col("nrm").as("a_nrm"))
    val scored = corpus.crossJoin(broadcast(anchors))
      .filter(col("doc_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("doc_id"),
        size(array_intersect(col("ts"), col("a_ts"))).cast("long").as("lex"),
        Text.cosineWithNorms(col("vec"), col("a_vec"),
          col("nrm"), col("a_nrm")).as("cos"))
    val byAnchor = Window.partitionBy(col("anchor_id"))
    val ranked = scored
      .withColumn("lr0", row_number().over(
        byAnchor.orderBy(col("lex").desc, col("doc_id"))))
      .withColumn("vr0", row_number().over(
        byAnchor.orderBy(col("cos").desc, col("doc_id"))))
      .withColumn("lex_rank",
        when(col("lex") > 0 && col("lr0") <= rrfDepth, col("lr0").cast("long"))
          .otherwise(lit(0L)))
      .withColumn("vec_rank",
        when(col("vr0") <= rrfDepth, col("vr0").cast("long"))
          .otherwise(lit(0L)))
      .filter(col("lex_rank") > 0 || col("vec_rank") > 0)
      .withColumn("rrf",
        when(col("lex_rank") > 0,
          lit(1.0) / (lit(rrfK.toDouble) + col("lex_rank").cast("double")))
          .otherwise(lit(0.0)) +
        when(col("vec_rank") > 0,
          lit(1.0) / (lit(rrfK.toDouble) + col("vec_rank").cast("double")))
          .otherwise(lit(0.0)))
    ranked
      .withColumn("rn", row_number().over(
        byAnchor.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rn") <= 10)
      .select(col("anchor_id"), col("rn").cast("long").as("rn"),
        col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf"))
      .orderBy(col("anchor_id"), col("rn"))
  }

  // ---- l75: cross-source corpus overlap matrix ------------------------

  /** Signature slots of the source-level MinHash estimate (matches
    * l07's per-doc signature width). */
  private val overlapPerms = 16

  /** l75: source-pair shingle-overlap matrix — exact Jaccard AND its
    * source-level MinHash estimate side by side. Exact: distinct
    * 3-gram-shingle hashes per source, pairwise |∩| via an equi-join
    * on the hash. Estimate: a source-level signature (per-slot min of
    * the l07 permuted hash over the source's whole shingle SET — min
    * commutes with union, so this IS the signature of the union) whose
    * slot-agreement fraction estimates the same Jaccard. At audit
    * scale both run; at 100 TB the estimate column is what survives,
    * and this operator is the measured error bound that justifies it. */
  /** The matrix over any docs-shaped frame (source, text) — public so
    * AuditSpec can drive the identical-source / disjoint-source laws
    * through the exact production expressions. */
  def overlapMatrix(d: DataFrame): DataFrame = {
    // No size(sh) > 0 pre-filter: explode already drops empty arrays,
    // and a filter on size(<interpreted transform>) makes Catalyst
    // re-evaluate the whole shingle builder for the predicate — 20×
    // the stage cost (measured 7.4 s vs 0.35 s at sf0.1; same class
    // as the Ingest pushdown re-inlining in the verify recipe).
    // repartition first: the docs scan is file-partitioned (1 split).
    val par = d.sparkSession.sparkContext.defaultParallelism
    val hs = Barriers.materialize(
      d
        .select(col("source"), Text.tokens(col("text")).as("tk"))
        .repartition(par)
        .select(col("source"),
          explode(Text.shinglesFromTokens("tk", 3)).as("shingle"))
        .select(col("source"),
          Text.portableHash(col("shingle")).as("h"))
        .distinct())
    val sizes = hs.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val inter = hs.as("x")
      .join(hs.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val slots = hs
      .select(col("source"), posexplode(expr(
        s"""transform(sequence(0, ${overlapPerms - 1}),
           |  p -> ${Text.portableMixSql("h + p * 8192 + 1")})"""
          .stripMargin)).as(Seq("slot", "m")))
      .groupBy(col("source"), col("slot")).agg(min(col("m")).as("mn"))
    val est = slots.as("p")
      .join(slots.as("q"),
        col("p.slot") === col("q.slot") && col("p.source") < col("q.source"))
      .groupBy(col("p.source").as("source_a"), col("q.source").as("source_b"))
      .agg(sum(when(col("p.mn") === col("q.mn"), 1L).otherwise(0L))
        .as("est_matches"))
    val pairs = sizes.as("sa")
      .join(sizes.as("sb"), col("sa.source") < col("sb.source"))
      .select(col("sa.source").as("source_a"), col("sb.source").as("source_b"),
        col("sa.n_sh").as("n_a"), col("sb.n_sh").as("n_b"))
    pairs
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(est, Seq("source_a", "source_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("est_matches", coalesce(col("est_matches"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_permille", expr("(1000 * n_inter) div n_union"))
      .withColumn("est_permille",
        expr(s"(1000 * est_matches) div $overlapPerms"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_union"), col("jaccard_permille"),
        col("est_matches"), col("est_permille"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val sourceOverlap: Q = (s, dir) => overlapMatrix(docs(s, dir))

  // ---- l76: k-anonymity privacy-risk audit ----------------------------

  /** The k of k-anonymity: a quasi-identifier cell with fewer distinct
    * users than this is a re-identification risk. */
  private val kanonK = 5

  /** l76: k-anonymity audit over the event stream — the privacy gate a
    * training-data release runs before shipping behavioral data. The
    * quasi-identifier is (event_type, hour-of-day, value band of 50):
    * attributes an adversary plausibly knows. Cells with fewer than
    * [[kanonK]] distinct users are risky; the per-event-type rollup
    * reports how many cells and rows a suppression/generalization pass
    * would have to touch. */
  /** The summary over any events-shaped frame — public for AuditSpec's
    * planted below-k cell. */
  def kanonSummary(ev: DataFrame): DataFrame = {
    val cells = ev
      .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
        expr("CAST(FLOOR(value / 50.0) AS BIGINT)").as("vband"),
        col("user_id"))
      .groupBy(col("event_type"), col("hod"), col("vband"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))
    cells.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("n_rows")).as("n_rows"),
        sum(when(col("n_users") < kanonK, 1L).otherwise(0L))
          .as("n_risky_cells"),
        sum(when(col("n_users") < kanonK, col("n_rows")).otherwise(0L))
          .as("n_risky_rows"),
        min(col("n_users")).as("min_cell_users"),
        max(col("n_users")).as("max_cell_users"))
      .orderBy(col("event_type"))
  }

  private val kAnonymity: Q = (s, dir) => kanonSummary(events(s, dir))

  // ---- l77: data-mixture reweighting step -----------------------------

  /** l77: one DoReMi-flavored multiplicative reweighting step over the
    * source mixture — the feedback loop that turns l62's quality gate
    * into next epoch's sampling weights. Each source's token share is
    * boosted in proportion to its quality DEFICIT (excess =
    * 1000 − pass_all permille, the integer stand-in for DoReMi's
    * per-domain excess loss): raw = share × (1000 + excess), then
    * renormalized to permille. Every step is cross-multiplied integer
    * arithmetic — the output weights are exactly reproducible, which
    * is the property a resumable 100 TB training run needs from its
    * mixture schedule. Rule columns come from [[QualityOps.ruleColumns]]
    * — same battery, zero drift. */
  private val mixReweight: Q = (s, dir) => {
    val per = QualityOps.ruleColumns(docs(s, dir))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4")
          && col("r5"), 1L).otherwise(0L)).as("n_pass"))
    val all = Window.partitionBy()
    per
      .withColumn("tot_tokens", sum(col("n_tokens")).over(all))
      .withColumn("share_permille",
        expr("(1000 * n_tokens) div tot_tokens"))
      .withColumn("pass_permille", expr("(1000 * n_pass) div n_docs"))
      .withColumn("excess_permille", lit(1000L) - col("pass_permille"))
      .withColumn("raw_w",
        col("share_permille") * (lit(1000L) + col("excess_permille")))
      .withColumn("tot_raw", sum(col("raw_w")).over(all))
      .withColumn("new_permille", expr("(1000 * raw_w) div tot_raw"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share_permille"), col("pass_permille"),
        col("excess_permille"), col("raw_w"), col("new_permille"))
      .orderBy(col("source"))
  }

  // ---- l78: embedding-space outlier audit -----------------------------

  /** Reported per-label farthest-from-centroid count. */
  private val outlierTopK = 5

  /** l78: per-label embedding outlier audit — the triage list a
    * curation pass reviews for mislabeled or corrupt vectors. Distance
    * is to the label centroid, computed WITHOUT the centroid's
    * division: with components on the milli-unit integer lattice
    * (x → ⌊1000x⌋), dist² scaled by n² is Σ_d (n·x_d − S_d)² — every
    * difference an exact long, squared and left-folded in array order
    * as doubles, so both engines emit identical bits and the per-label
    * top-[[outlierTopK]] ranking is total. The n² scale factor is
    * constant within a label, so ranking is unaffected. */
  /** The ranking over any embeddings-shaped frame (vec_id, label, vec:
    * array<double>) — public for AuditSpec's planted-outlier law. */
  def outlierRanking(embsDf: DataFrame): DataFrame = {
    val e = Barriers.materialize(
      embsDf.select(col("vec_id"),
        col("label").cast("long").as("label"),
        expr("transform(vec, x -> CAST(FLOOR(x * 1000.0) AS BIGINT))")
          .as("mv")))
    val sums = e
      .select(col("label"), posexplode(col("mv")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d")).agg(sum(col("x")).as("sx"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(d, sx))), t -> t.sx)")
        .as("sarr"))
    val cnt = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    e.join(broadcast(sums), Seq("label"))
      .join(broadcast(cnt), Seq("label"))
      .withColumn("dist2", expr(
        """aggregate(
          |  zip_with(mv, sarr,
          |    (x, s) -> CAST(n * x - s AS DOUBLE) * CAST(n * x - s AS DOUBLE)),
          |  0D, (a, b) -> a + b)""".stripMargin))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("dist2").desc, col("vec_id"))))
      .filter(col("rk") <= outlierTopK)
      .select(col("label"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("dist2"))
      .orderBy(col("label"), col("rk"))
  }

  private val embeddingOutliers: Q = (s, dir) => outlierRanking(embs(s, dir))

  // ---- l79: tokenizer fertility / compression audit -------------------

  /** l79: tokenization-efficiency audit per (source, lang) — fertility
    * (BPE-ish tokens per whitespace word) and compression (normalized
    * chars per BPE token), the two numbers that decide whether a
    * tokenizer suits a corpus slice (fertility ≫ 1000 permille on a
    * language means the vocabulary under-serves it — the multilingual
    * tokenizer-tax audit). Integer permille over exact corpus sums;
    * the BPE count is l04's pre-tokenizer regex, shared spelling. One
    * narrow projection + one map-side-combined rollup — linear. */
  private val fertility: Q = (s, dir) => {
    docs(s, dir)
      .select(col("source"), col("lang"), Text.norm(col("text")).as("nrm"),
        Text.tokens(col("text")).as("tk"),
        Text.bpeTokenCount(col("text")).cast("long").as("bpe"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("nrm")).cast("long")).as("n_chars"),
        sum(size(col("tk")).cast("long")).as("n_words"),
        sum(col("bpe")).as("n_bpe"))
      .withColumn("fertility_permille", expr("(1000 * n_bpe) div n_words"))
      .withColumn("chars_per_bpe_permille",
        expr("(1000 * n_chars) div n_bpe"))
      .orderBy(col("source"), col("lang"))
  }

  // ---- l80: dedup survivorship-bias audit -----------------------------

  /** l80: survivorship-bias audit of naive min-id dedup — for every
    * CONFIRMED near-dup pair (the process-shared l07 banding frame,
    * fourth consumer, zero extra banding cost), compare the quality of
    * the copy min-id dedup keeps (doc_a: candidates are emitted with
    * doc_a < doc_b) against the copy it drops. The quality score is the
    * l62 rule battery's pass count (0..5 — integer, zero drift from the
    * gate definition via [[QualityOps.ruleColumnsWithKeys]]).
    * `n_minid_worse` is the measured case for l34's quality-aware
    * survivor selection: every such pair is a better copy thrown away.
    * Near-dups (unlike exact dups) genuinely differ under the rules, so
    * the audit is non-vacuous by construction.
    *
    * 100 TB shape: candidates come cached; the two score joins are
    * doc-keyed equi-joins of a narrow (doc_id, q) frame; the rollup is
    * |sources|-sized. */
  /** The audit over any docs-shaped frame and candidate frame — public
    * so AuditSpec drives a planted worse-survivor pair through the
    * production expressions (the registered query passes the shared
    * process-cached candidates). */
  def survivorshipStats(d: DataFrame, candidates: DataFrame): DataFrame = {
    val q = Seq("r1", "r2", "r3", "r4", "r5")
      .map(c => when(col(c), 1L).otherwise(0L))
      .reduce(_ + _)
    val score = QualityOps
      .ruleColumnsWithKeys(d, Seq("source", "doc_id"))
      .select(col("source"), col("doc_id"), q.as("q"))
    val cand = candidates
      .filter(col("confirmed"))
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(score.select(col("doc_id").as("doc_a"), col("source"),
        col("q").as("q_kept")), "doc_a")
      .join(score.select(col("doc_id").as("doc_b"),
        col("q").as("q_dropped")), "doc_b")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("q_kept") < col("q_dropped"), 1L).otherwise(0L))
          .as("n_minid_worse"),
        sum(when(col("q_kept") > col("q_dropped"), 1L).otherwise(0L))
          .as("n_minid_better"),
        sum(col("q_dropped") - col("q_kept")).as("quality_delta_sum"))
      .orderBy(col("source"))
  }

  private val survivorshipBias: Q = (s, dir) =>
    survivorshipStats(docs(s, dir), LlmOps.sharedMinhashCandidates(s, dir))

  // ---- l81: duplication-profile histogram -----------------------------

  /** l81: corpus duplication profile — power-of-2 histogram of exact-
    * duplicate cluster sizes (copies per md5 fingerprint), the
    * datasheet row that says HOW a corpus is duplicated, not just how
    * much (l05's rate): a fat band-3+ tail means template/boilerplate
    * explosions that near-dedup must catch, a pure band-0 corpus needs
    * no dedup pass at all. Bands via [[QualityOps.bandSql]] (l57/l63's
    * integer CASE chain), corpus share in integer permille over the
    * ≤ 21 post-aggregate band rows. One fingerprint hash agg — the
    * cheapest audit in the pack, linear and codegen'd. */
  private val dupProfile: Q = (s, dir) => {
    val clusters = docs(s, dir)
      .select(md5(Text.norm(col("text"))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("copies"))
    clusters
      .withColumn("band", expr(QualityOps.bandSql("copies")).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("copies")).as("n_docs"))
      .withColumn("tot", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("corpus_permille", expr("(1000 * n_docs) div tot"))
      .drop("tot")
      .orderBy(col("band"))
  }

  // ---- l82: scalar-quantization reconstruction-error audit ------------

  /** l82: int8 SQ reconstruction-error audit — the calibration row for
    * l58's quantized serving path: quantize with l58's exact recipe
    * (symmetric max-abs, q = round(x/amax·127)), reconstruct, and rank
    * vectors by squared reconstruction error. The worst-10 list is
    * what decides whether SQ8 is safe for a corpus or the outliers
    * need PQ/float fallback. err² is one fold in array order over a
    * shared closed-form spelling — bit-identical doubles — and the
    * top-10 plans as TakeOrderedAndProject (no global sort). The
    * singleton amax crossJoin is the l43 one-row-broadcast shape. */
  private val sqError: Q = (s, dir) => {
    val e = embs(s, dir).select(col("vec_id"), col("vec"))
    val amax = e.agg(max(expr(
      "aggregate(vec, 0.0D, (a, x) -> greatest(a, abs(x)))")).as("amax"))
    e.crossJoin(broadcast(amax))
      .withColumn("err2", expr(
        """aggregate(
          |  transform(vec, x ->
          |    (x - ROUND(x / amax * 127.0D) * amax / 127.0D)
          |    * (x - ROUND(x / amax * 127.0D) * amax / 127.0D)),
          |  0D, (a, b) -> a + b)""".stripMargin))
      .select(col("vec_id"), col("err2"))
      .orderBy(desc("err2"), col("vec_id"))
      .limit(10)
  }

  // ---- l83: RAG chunk-level dedup rate --------------------------------

  /** Chunk window/stride (tokens) for the RAG indexing path. */
  private val chunkWindow = 32
  private val chunkStride = 16

  /** l83: chunk-level dedup audit — the RAG-index hygiene number:
    * overlapping token-window chunks (l31's splitter geometry, l50's
    * retrieval granularity) fingerprinted and deduped per source.
    * Duplicate chunks in a vector index waste storage AND corrupt
    * retrieval (the same passage crowds out diverse hits — the l74/l75
    * failure mode at serving time), so the dup permille per source is
    * the number an indexing pipeline gates on. Chunk count law:
    * 1 + max(0, ⌈(len − window)/stride⌉), the l31 coverage geometry.
    * One explode + one fingerprint hash agg — linear. */
  private val chunkDedup: Q = (s, dir) => {
    val par = s.sparkContext.defaultParallelism
    val starts =
      s"sequence(0, greatest(CAST(CEIL((size(tk) - $chunkWindow) / " +
        s"$chunkStride.0) AS INT), 0))"
    docs(s, dir)
      .select(col("source"), Text.tokens(col("text")).as("tk"))
      .repartition(par)
      .select(col("source"), explode(expr(
        s"""transform($starts,
           |  i -> array_join(slice(tk, i * $chunkStride + 1, $chunkWindow),
           |       ' '))""".stripMargin)).as("chunk"))
      .select(col("source"), md5(col("chunk")).as("fp"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct"))
      .withColumn("dup_permille",
        expr("(1000 * (n_chunks - n_distinct)) div n_chunks"))
      .orderBy(col("source"))
  }

  // ---- l96: Bradley-Terry preference-strength fit ----------------------

  /** Fixed preference panel (the l10 discipline: the O(panel²) game
    * generation never sees more than this many docs regardless of
    * corpus size — a real preference dataset arrives as pairs and
    * skips that stage entirely). */
  private val btPanel = 120
  private val btIters = 3

  /** l96: Bradley-Terry preference-strength fit — the model under
    * every RLHF reward-data pipeline: given pairwise preferences,
    * estimate per-player strength s_i such that P(i beats j) =
    * s_i/(s_i+s_j), via Hunter's MM iteration
    * s_i ← W_i / Σ_j n_ij/(s_i+s_j) (Hunter, Annals of Stats 2004).
    * Players are sources; preferences come from a fixed
    * [[btPanel]]-doc panel compared on stopword-density permille
    * (ties to the lower doc_id — every game has a winner). The
    * iteration runs ENTIRELY on the integer micro-unit lattice
    * (PageRank's q29 discipline): each denominator term is the floor
    * division (n_ij·10⁹) div (s_i+s_j), the update is (W_i·10⁹) div D,
    * so three iterations produce the identical lattice of longs in
    * both engines and the final ranking hash-matches exactly.
    *
    * 100 TB shape: the game stage reduces pairs to the |sources|²-row
    * win matrix in ONE shuffle (map-side combined); every MM iteration
    * is model-sized joins over that matrix (≤190 rows here) — the
    * corpus is never touched again. A billion-pair preference log
    * reduces the same way: the win matrix, not the game log, is the
    * iteration state. */
  /** The l96 fit over any docs-shaped frame (doc_id, source, text) —
    * public so AuditSpec can pin the BT laws (dominance ordering,
    * symmetric-record equality) on planted preference fixtures.
    * ASSUMES doc_id is unique in `docsDf`: the panel broadcast below is
    * gated on the structural bound `doc_id < btPanel`, which only
    * bounds rows when ids are unique (duplicates would void the bound —
    * hint-only, so the worst case is an oversized broadcast, never a
    * wrong result). */
  def btStrengths(docsDf: DataFrame): DataFrame = {
    val en = Text.langStopwords.head._2
    val p = Barriers.materialize(docsDf
      .filter(col("doc_id") < btPanel)
      .select(col("doc_id"), col("source"),
        Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        Text.stopwordHits(col("tk"), en).cast("long").as("hits"),
        size(col("tk")).cast("long").as("ntok"))
      .withColumn("score", expr("(1000 * hits) div ntok"))
      .select(col("doc_id"), col("source"), col("score")))
    // a.doc_id < b.doc_id makes each game unique; the tie rule (equal
    // scores → a wins) is therefore "lower doc_id wins" — total and
    // engine-independent
    // The panel frame is structurally ≤ btPanel rows (doc_id < btPanel
    // on unique ids) but its barrier preserves the corpus-scan origin
    // estimate (see Barriers.broadcastIfSmall), so the self-join
    // planned via sort-merge machinery; the structural bound gates the
    // broadcast explicitly.
    val g = p.as("a").join(
        Barriers.broadcastIfSmall(p.as("b"), btPanel),
        col("a.doc_id") < col("b.doc_id") &&
          col("a.source") =!= col("b.source"))
      .select(
        least(col("a.source"), col("b.source")).as("s1"),
        greatest(col("a.source"), col("b.source")).as("s2"),
        when(col("a.score") >= col("b.score"), col("a.source"))
          .otherwise(col("b.source")).as("winner"))
    val pr = Barriers.materialize(g.groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_games"),
        sum(when(col("winner") === col("s1"), 1L).otherwise(0L))
          .as("wins1")))
    // no barrier: wt's only action is the collect below, so pinning
    // its blocks would store data nothing re-reads
    val wt =
      pr.select(col("s1").as("src"), col("wins1").as("w"),
          col("n_games").as("n"))
        .unionAll(pr.select(col("s2").as("src"),
          (col("n_games") - col("wins1")).as("w"),
          col("n_games").as("n")))
        .groupBy(col("src"))
        .agg(sum(col("w")).as("w_total"), sum(col("n")).as("n_games"))
    // |sources| is the model dimension — every MM-iteration frame is
    // that size, and the win matrix pr is at most its square.
    // MODEL PULL (the l32 centroid / l85 pool discipline): the MM
    // iteration state is the win matrix — |sources|² rows at most, a
    // model-sized object the corpus-scale game stage has already
    // reduced to (the in-code 100 TB note above: "the win matrix, not
    // the game log, is the iteration state"). Running the three MM
    // iterations as unrolled DataFrame joins cost ~12 model-sized
    // join/agg jobs plus a measured ~500 ms of driver-side planning
    // (each iteration references r twice and d references t twice, so
    // the logical tree grew ~4× per iteration — guide §3.3's
    // planning-time trap). Two bounded collects (≤ |sources|² and
    // |sources| rows) and a driver loop over longs replace all of it;
    // the arithmetic below is the SAME integer-lattice floor division
    // as the DataFrame/oracle spelling ((x*1e9) div max(d,1) on
    // non-negative longs), so the result is bit-identical — oracle
    // re-proven at sf0.01 and sf0.1 after the change.
    // BOUND, whatever the corpus size: the panel holds ≤ btPanel docs
    // (doc_id < btPanel on unique ids, the ASSUMES above), so there
    // are ≤ btPanel sources, pr holds ≤ btPanel·(btPanel−1)/2 = 7,140
    // rows (one per unordered source pair) and wt ≤ btPanel rows —
    // three orders below Barriers.broadcastRowCap's 4M default.
    val prRows = pr.select(col("s1"), col("s2"), col("n_games")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val wtRows = wt.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    var st: Map[String, Long] =
      wtRows.map { case (src, _, _) => src -> 1000000L }.toMap
    for (_ <- 1 to btIters) {
      val dsc = scala.collection.mutable.HashMap.empty[String, Long]
        .withDefaultValue(0L)
      prRows.foreach { case (s1, s2, n) =>
        val term = (n * 1000000000L) / math.max(st(s1) + st(s2), 1L)
        dsc(s1) += term
        dsc(s2) += term
      }
      st = wtRows.map { case (src, wTotal, _) =>
        src -> (wTotal * 1000000000L) / math.max(dsc(src), 1L)
      }.toMap
    }
    val spark = docsDf.sparkSession
    import spark.implicits._
    wtRows.toSeq
      .map { case (src, wTotal, nGames) => (src, nGames, wTotal, st(src)) }
      .toDF("source", "n_games", "w_total", "strength_micro")
      .orderBy(desc("strength_micro"), col("source"))
  }

  private val bradleyTerry: Q = (s, dir) => btStrengths(docs(s, dir))

  def queries: Map[String, Q] = Map(
    "l96_bradley_terry" -> bradleyTerry,
    "l82_sq_error" -> sqError,
    "l83_chunk_dedup" -> chunkDedup,
    "l81_dup_profile" -> dupProfile,
    "l80_survivorship_bias" -> survivorshipBias,
    "l79_fertility" -> fertility,
    "l74_hybrid_rrf" -> hybridRrf,
    "l75_source_overlap" -> sourceOverlap,
    "l76_kanonymity" -> kAnonymity,
    "l77_mix_reweight" -> mixReweight,
    "l78_embedding_outliers" -> embeddingOutliers)

  private val oNorm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val oToks = s"string_split($oNorm, ' ')"

  /** One MM iteration as a CTE pair (terms + strength update), chained
    * from the previous round's strength CTE. */
  private def btIterCte(k: Int): String =
    s"""t$k AS (
       |  SELECT pr.s1, pr.s2,
       |    (pr.n_games * 1000000000) // GREATEST(ra.st + rb.st, 1)
       |      AS term
       |  FROM pr JOIN r${k - 1} ra ON pr.s1 = ra.src
       |    JOIN r${k - 1} rb ON pr.s2 = rb.src),
       |d$k AS (
       |  SELECT src, CAST(SUM(term) AS BIGINT) AS dsc FROM (
       |    SELECT s1 AS src, term FROM t$k
       |    UNION ALL SELECT s2, term FROM t$k)
       |  GROUP BY 1),
       |r$k AS (
       |  SELECT wt.src,
       |    (wt.w_total * 1000000000) // GREATEST(d$k.dsc, 1) AS st
       |  FROM wt JOIN d$k USING (src))""".stripMargin

  def oracle: Map[String, String] = Map(
    "l96_bradley_terry" -> {
      // interpolated from the SAME lexicon the Spark side scores with —
      // a list edit cannot silently desynchronize the oracle
      val stop = Text.langStopwords.head._2
        .map(w => s"'$w'").mkString(",")
      s"""WITH p AS (
         |  SELECT doc_id, source,
         |    (1000 * len(list_filter($oToks, t -> t IN ($stop))))
         |      // len($oToks) AS score
         |  FROM documents WHERE doc_id < $btPanel),
         |g AS (
         |  SELECT LEAST(a.source, b.source) AS s1,
         |    GREATEST(a.source, b.source) AS s2,
         |    CASE WHEN a.score >= b.score THEN a.source
         |      ELSE b.source END AS winner
         |  FROM p a JOIN p b
         |    ON a.doc_id < b.doc_id AND a.source <> b.source),
         |pr AS (
         |  SELECT s1, s2, COUNT(*) AS n_games,
         |    CAST(SUM(CASE WHEN winner = s1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wins1
         |  FROM g GROUP BY 1, 2),
         |wt AS (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS w_total,
         |    CAST(SUM(n) AS BIGINT) AS n_games FROM (
         |    SELECT s1 AS src, wins1 AS w, n_games AS n FROM pr
         |    UNION ALL SELECT s2, n_games - wins1, n_games FROM pr)
         |  GROUP BY 1),
         |r0 AS (SELECT src, CAST(1000000 AS BIGINT) AS st FROM wt),
         |${(1 to btIters).map(btIterCte).mkString(",\n")}
         |SELECT wt.src AS source, wt.n_games, wt.w_total,
         |  r$btIters.st AS strength_micro
         |FROM wt JOIN r$btIters USING (src)
         |ORDER BY strength_micro DESC, source""".stripMargin
    },
    "l82_sq_error" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |amax AS (SELECT MAX(list_aggregate(
        |    list_transform(vec, x -> abs(x)), 'max')) AS a FROM e)
        |SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(vec, x ->
        |      (x - ROUND(x / am.a * 127.0) * am.a / 127.0)
        |      * (x - ROUND(x / am.a * 127.0) * am.a / 127.0))),
        |    (a, b) -> a + b) AS err2
        |FROM e CROSS JOIN amax am
        |ORDER BY err2 DESC, vec_id LIMIT 10""".stripMargin,
    "l83_chunk_dedup" -> {
      val starts = s"range(0, greatest(CAST(CEIL((len(tk) - $chunkWindow)" +
        s" / $chunkStride.0) AS INT), 0) + 1)"
      s"""WITH t AS (SELECT source, $oToks AS tk FROM documents),
         |ch AS (
         |  SELECT source,
         |    md5(unnest(list_transform($starts,
         |      i -> array_to_string(
         |        tk[i * $chunkStride + 1 : i * $chunkStride + $chunkWindow],
         |        ' ')))) AS fp
         |  FROM t)
         |SELECT source, COUNT(*) AS n_chunks,
         |  COUNT(DISTINCT fp) AS n_distinct,
         |  (1000 * (COUNT(*) - COUNT(DISTINCT fp))) // COUNT(*)
         |    AS dup_permille
         |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "l81_dup_profile" ->
      s"""WITH f AS (SELECT md5($oNorm) AS fp FROM documents),
         |c AS (SELECT fp, COUNT(*) AS copies FROM f GROUP BY 1)
         |SELECT CAST(${QualityOps.bandSql("copies")} AS BIGINT) AS band,
         |  COUNT(*) AS n_clusters,
         |  CAST(SUM(copies) AS BIGINT) AS n_docs,
         |  CAST((1000 * CAST(SUM(copies) AS BIGINT))
         |    // CAST(SUM(SUM(copies)) OVER () AS BIGINT) AS BIGINT)
         |    AS corpus_permille
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // the l67/l68 banding replay (shared spelling) + the l62 rule
    // battery keyed by doc, composed into the pairwise audit
    "l80_survivorship_bias" ->
      s"""WITH ${QualityOps.oBandingCtes},
         |conf AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN shf x ON x.doc_id = p.doc_a
         |  JOIN shf y ON y.doc_id = p.doc_b
         |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE)
         |      >= 0.8),
         |rt AS (
         |  SELECT source, doc_id, $oNorm AS nrm, $oToks AS tk
         |  FROM documents),
         |rg AS (
         |  SELECT source, doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT source, doc_id, unnest(tk) AS tok FROM rt)
         |  GROUP BY 1, 2, 3),
         |rtopt AS (
         |  SELECT source, doc_id, MAX(c) AS top_tok FROM rg GROUP BY 1, 2),
         |rm AS (
         |  SELECT rt.source, rt.doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_tok,
         |    CAST(length(nrm) - (len(tk) - 1) AS BIGINT) AS n_chars,
         |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_dist,
         |    CAST(len(list_filter(tk,
         |      x -> x IN ('the','a','of','to','and','in'))) AS BIGINT)
         |      AS n_stop,
         |    rtopt.top_tok AS top_tok
         |  FROM rt LEFT JOIN rtopt ON rt.source = rtopt.source
         |    AND rt.doc_id = rtopt.doc_id),
         |rq AS (
         |  SELECT source, doc_id, CAST(
         |    (CASE WHEN n_tok BETWEEN 20 AND 60 THEN 1 ELSE 0 END) +
         |    (CASE WHEN 35 * n_tok <= 10 * n_chars
         |       AND 10 * n_chars <= 45 * n_tok THEN 1 ELSE 0 END) +
         |    (CASE WHEN n_dist * 2 >= n_tok THEN 1 ELSE 0 END) +
         |    (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) +
         |    (CASE WHEN top_tok * 5 <= n_tok THEN 1 ELSE 0 END)
         |    AS BIGINT) AS q
         |  FROM rm)
         |SELECT qa.source, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN qa.q < qb.q THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_minid_worse,
         |  CAST(SUM(CASE WHEN qa.q > qb.q THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_minid_better,
         |  CAST(SUM(qb.q - qa.q) AS BIGINT) AS quality_delta_sum
         |FROM conf c
         |JOIN rq qa ON qa.doc_id = c.doc_a
         |JOIN rq qb ON qb.doc_id = c.doc_b
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l79_fertility" ->
      s"""SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(length($oNorm)) AS BIGINT) AS n_chars,
         |  CAST(SUM(len($oToks)) AS BIGINT) AS n_words,
         |  CAST(SUM(len(regexp_extract_all(text,
         |    '${Text.bpeTokenPattern}'))) AS BIGINT) AS n_bpe,
         |  (1000 * CAST(SUM(len(regexp_extract_all(text,
         |    '${Text.bpeTokenPattern}'))) AS BIGINT))
         |    // CAST(SUM(len($oToks)) AS BIGINT) AS fertility_permille,
         |  (1000 * CAST(SUM(length($oNorm)) AS BIGINT))
         |    // CAST(SUM(len(regexp_extract_all(text,
         |      '${Text.bpeTokenPattern}'))) AS BIGINT)
         |    AS chars_per_bpe_permille
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "l74_hybrid_rrf" ->
      s"""WITH corpus AS (
         |  SELECT d.doc_id, list_distinct($oToks) AS ts,
         |    CAST(e.embedding AS DOUBLE[]) AS vec
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |a AS (
         |  SELECT doc_id AS anchor_id, ts AS a_ts, vec AS a_vec
         |  FROM corpus WHERE doc_id IN (${rrfAnchors.mkString(", ")})),
         |scored AS (
         |  SELECT a.anchor_id, c.doc_id,
         |    CAST(len(list_intersect(c.ts, a.a_ts)) AS BIGINT) AS lex,
         |    list_dot_product(c.vec, a.a_vec) /
         |      (sqrt(list_dot_product(c.vec, c.vec)) *
         |       sqrt(list_dot_product(a.a_vec, a.a_vec))) AS cos
         |  FROM corpus c CROSS JOIN a WHERE c.doc_id <> a.anchor_id),
         |rk AS (
         |  SELECT anchor_id, doc_id, lex,
         |    ROW_NUMBER() OVER (PARTITION BY anchor_id
         |      ORDER BY lex DESC, doc_id) AS lr0,
         |    ROW_NUMBER() OVER (PARTITION BY anchor_id
         |      ORDER BY cos DESC, doc_id) AS vr0
         |  FROM scored),
         |rr AS (
         |  SELECT anchor_id, doc_id,
         |    CAST(CASE WHEN lex > 0 AND lr0 <= $rrfDepth THEN lr0 ELSE 0 END
         |      AS BIGINT) AS lex_rank,
         |    CAST(CASE WHEN vr0 <= $rrfDepth THEN vr0 ELSE 0 END AS BIGINT)
         |      AS vec_rank
         |  FROM rk),
         |f AS (
         |  SELECT anchor_id, doc_id, lex_rank, vec_rank,
         |    (CASE WHEN lex_rank > 0
         |       THEN 1.0 / ($rrfK.0 + CAST(lex_rank AS DOUBLE)) ELSE 0.0 END)
         |    + (CASE WHEN vec_rank > 0
         |       THEN 1.0 / ($rrfK.0 + CAST(vec_rank AS DOUBLE)) ELSE 0.0 END)
         |      AS rrf
         |  FROM rr WHERE lex_rank > 0 OR vec_rank > 0),
         |fin AS (
         |  SELECT anchor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
         |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rn,
         |    doc_id, lex_rank, vec_rank, rrf
         |  FROM f)
         |SELECT * FROM fin WHERE rn <= 10
         |ORDER BY anchor_id, rn""".stripMargin,
    "l75_source_overlap" -> {
      val sh = Text.oMinhashShinglesSql("toks", 3)
      s"""WITH t AS (SELECT source, $oToks AS toks FROM documents),
         |shf AS (
         |  SELECT source, sh
         |  FROM (SELECT source, $sh AS sh FROM t) WHERE len(sh) > 0),
         |hs AS (
         |  SELECT DISTINCT source, h FROM (
         |    SELECT source,
         |      unnest(list_transform(sh,
         |        s -> ${Text.oPortableStrHashSql("s")})) AS h
         |    FROM shf)),
         |sizes AS (SELECT source, COUNT(*) AS n_sh FROM hs GROUP BY 1),
         |inter AS (
         |  SELECT x.source AS source_a, y.source AS source_b,
         |    COUNT(*) AS n_inter
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
         |  GROUP BY 1, 2),
         |slots AS (
         |  SELECT source, p AS slot,
         |    MIN(${Text.oPortableMixSql("h + p * 8192 + 1")}) AS mn
         |  FROM hs CROSS JOIN (SELECT unnest(range(0, $overlapPerms)) AS p)
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT p.source AS source_a, q.source AS source_b,
         |    CAST(SUM(CASE WHEN p.mn = q.mn THEN 1 ELSE 0 END) AS BIGINT)
         |      AS est_matches
         |  FROM slots p JOIN slots q
         |    ON p.slot = q.slot AND p.source < q.source
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    a.n_sh AS n_a, b.n_sh AS n_b
         |  FROM sizes a JOIN sizes b ON a.source < b.source)
         |SELECT p.source_a, p.source_b, p.n_a, p.n_b,
         |  COALESCE(i.n_inter, 0) AS n_inter,
         |  p.n_a + p.n_b - COALESCE(i.n_inter, 0) AS n_union,
         |  (1000 * COALESCE(i.n_inter, 0))
         |    // (p.n_a + p.n_b - COALESCE(i.n_inter, 0)) AS jaccard_permille,
         |  COALESCE(e.est_matches, 0) AS est_matches,
         |  (1000 * COALESCE(e.est_matches, 0)) // $overlapPerms
         |    AS est_permille
         |FROM pairs p
         |LEFT JOIN inter i USING (source_a, source_b)
         |LEFT JOIN est e USING (source_a, source_b)
         |ORDER BY 1, 2""".stripMargin
    },
    "l76_kanonymity" ->
      s"""WITH cells AS (
         |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         |    CAST(FLOOR(value / 50.0) AS BIGINT) AS vband,
         |    COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users
         |  FROM events GROUP BY 1, 2, 3)
         |SELECT event_type, COUNT(*) AS n_cells,
         |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN n_users < $kanonK THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_risky_cells,
         |  CAST(SUM(CASE WHEN n_users < $kanonK THEN n_rows ELSE 0 END)
         |    AS BIGINT) AS n_risky_rows,
         |  MIN(n_users) AS min_cell_users,
         |  MAX(n_users) AS max_cell_users
         |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin,
    "l77_mix_reweight" ->
      // the same rule battery as the l62 oracle, rolled up to the
      // mixture arithmetic; LEFT JOIN keeps it row-complete (l62 note)
      s"""WITH t AS (
         |  SELECT source, doc_id, $oNorm AS nrm, $oToks AS tk
         |  FROM documents),
         |g AS (
         |  SELECT source, doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT source, doc_id, unnest(tk) AS tok FROM t)
         |  GROUP BY 1, 2, 3),
         |topt AS (
         |  SELECT source, doc_id, MAX(c) AS top_tok FROM g GROUP BY 1, 2),
         |m AS (
         |  SELECT t.source,
         |    CAST(len(tk) AS BIGINT) AS n_tok,
         |    CAST(length(nrm) - (len(tk) - 1) AS BIGINT) AS n_chars,
         |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_dist,
         |    CAST(len(list_filter(tk,
         |      x -> x IN ('the','a','of','to','and','in'))) AS BIGINT)
         |      AS n_stop,
         |    topt.top_tok AS top_tok
         |  FROM t LEFT JOIN topt ON t.source = topt.source
         |    AND t.doc_id = topt.doc_id),
         |per AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN (n_tok BETWEEN 20 AND 60)
         |      AND (35 * n_tok <= 10 * n_chars
         |        AND 10 * n_chars <= 45 * n_tok)
         |      AND (n_dist * 2 >= n_tok)
         |      AND (n_stop >= 2)
         |      AND (top_tok * 5 <= n_tok) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pass
         |  FROM m GROUP BY 1),
         |w AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST((1000 * n_tokens) // CAST(SUM(n_tokens) OVER () AS BIGINT)
         |      AS BIGINT) AS share_permille,
         |    (1000 * n_pass) // n_docs AS pass_permille
         |  FROM per),
         |x AS (
         |  SELECT source, n_docs, n_tokens, share_permille, pass_permille,
         |    1000 - pass_permille AS excess_permille,
         |    share_permille * (1000 + (1000 - pass_permille)) AS raw_w
         |  FROM w)
         |SELECT source, n_docs, n_tokens, share_permille, pass_permille,
         |  excess_permille, raw_w,
         |  CAST((1000 * raw_w) // CAST(SUM(raw_w) OVER () AS BIGINT)
         |    AS BIGINT) AS new_permille
         |FROM x ORDER BY source""".stripMargin,
    "l78_embedding_outliers" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(FLOOR(x * 1000.0) AS BIGINT)) AS mv
         |  FROM embeddings),
         |px AS (
         |  SELECT label, unnest(mv) AS x,
         |    unnest(range(1, len(mv) + 1)) AS d
         |  FROM e),
         |sums AS (
         |  SELECT label, d, CAST(SUM(x) AS BIGINT) AS sx
         |  FROM px GROUP BY 1, 2),
         |sa AS (SELECT label, list(sx ORDER BY d) AS sarr FROM sums
         |  GROUP BY 1),
         |cn AS (SELECT label, COUNT(*) AS n FROM e GROUP BY 1),
         |dist AS (
         |  SELECT e.vec_id, e.label,
         |    list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, len(mv) + 1),
         |          i -> CAST(n * mv[i] - sarr[i] AS DOUBLE)
         |             * CAST(n * mv[i] - sarr[i] AS DOUBLE))),
         |      (a, b) -> a + b) AS dist2
         |  FROM e JOIN sa USING (label) JOIN cn USING (label)),
         |rk AS (
         |  SELECT label,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY label
         |      ORDER BY dist2 DESC, vec_id) AS BIGINT) AS rk,
         |    vec_id, dist2
         |  FROM dist)
         |SELECT * FROM rk WHERE rk <= $outlierTopK
         |ORDER BY label, rk""".stripMargin)
}
