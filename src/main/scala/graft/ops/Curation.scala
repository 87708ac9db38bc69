package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T40/T41 — the end-to-end training-data curation layer (SURVEY §2.9
  * north-star): the individual hygiene operators (t13 langid, t14
  * quality, t3/t4 dedup, t17/t21 sampling) exist as standalone queries;
  * production pipelines run them as ONE composed pass with per-stage
  * retention accounting (the "data funnel" every curation run reports).
  *
  * Scale design (the 100 TB shape):
  * - Every gate is a PER-ROW boolean flag computed in one projection
  *   over one corpus scan — no materialization between stages, no
  *   driver round-trips. Catalyst sees a single plan; the whole flag
  *   block stays inside one WholeStageCodegen span.
  * - Cumulative-survivor semantics without N passes: stage k's
  *   canonical-pick windows aggregate `min(CASE WHEN survived_k-1 THEN
  *   doc_id END)` — the "min over survivors" trick — so exact-dedup and
  *   near-dedup each cost ONE hash-partitioned shuffle on a
  *   high-cardinality content key (md5 / minhash signature: no skew,
  *   and only (key, doc_id, flags) cross the wire, never the text).
  * - Quota sampling is RATE-based (hash-threshold, t17's idiom), not
  *   rank-based: a per-row pure function that needs no per-source
  *   ordered window — the variant that survives a skewed source at
  *   100 TB (exact top-K quotas are t21's job).
  * - The funnel itself is one conditional rollup (count/sum FILTER per
  *   stage) — partial-aggregated map-side, 7 rows out.
  *
  * The near-dup signature is a 4-lane minhash (per lane: min over the
  * lane's 8-hex slice of each 3-gram shingle's md5, lanes concatenated),
  * computed with higher-order functions (transform/array_min) — per-row,
  * no explode, byte-identical to the oracle's list_transform/list_min
  * SQL. One concatenated signature trades a little recall for zero
  * extra shuffles vs t4's banded LSH (which remains the high-recall
  * path): a copy merges iff ALL four lane minima survive the
  * perturbation (~94% of last-word-dropped copies here), while false
  * merges need a 4-lane collision (1 lane alone false-merged half this
  * small-vocabulary corpus; 4 lanes false-merge ~2%).
  */
object Curation {

  /** t17's portable deterministic bucket (shared with TextVector —
    * ONE copy of the cross-engine formula). */
  private def md5Bucket(id: Column): Column = TextVector.md5Bucket(id)

  /** Pipeline input: corpus ∪ exact copies (ids +1M) ∪ near-dup copies
    * (ids +2M, last token dropped — the t4-family perturbation recipe,
    * restated identically in the oracle SQL) with lang/source carried
    * through, so the dedup stages have real work at any SF. */
  private def triCorpus(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"), col("lang"), col("source"))
    base
      .unionByName(base.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"), col("lang"), col("source")))
      .unionByName(base.select((col("doc_id") + 2000000L).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text"),
        col("lang"), col("source")))
  }

  /** The stateless gate block, shared verbatim by the batch funnel and
    * the streaming ingest ([[graft.streaming.Streams.curationIngest]]):
    * token/char-length/content-hash enrichment plus the cumulative
    * lang (f1), length (f2), and repetition (f3) flags. Pure per-row —
    * indifferent to partitioning and micro-batch boundaries, which is
    * what makes the batch and streaming paths provably the same gates
    * (the parity spec feeds both the identical rows). Needs `text` and
    * `lang`; every other input column passes through. */
  private[graft] def statelessGates(df: DataFrame): DataFrame =
    df.withColumn("t", split(trim(col("text")), " "))
      .withColumn("cl", length(trim(col("text"))))
      .withColumn("ntok", size(col("t")))
      .withColumn("h", md5(lower(trim(col("text")))))
      .withColumn("ratio", size(array_distinct(col("t"))).cast("double") / col("ntok"))
      .withColumn("f1", col("lang") =!= "zh")
      .withColumn("f2", col("f1") && col("cl").between(100, 520))
      .withColumn("f3", col("f2") && col("ntok") > 0 && col("ratio") >= 0.35)

  // sig4's per-thread digest: MessageDigest is stateful, so each task
  // thread reuses its own instance instead of a provider lookup per row
  private val sig4Md5 =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val hexChars = "0123456789abcdef".toCharArray

  /** Compiled 4-lane near-dup signature (r22, guide §1.2 "per-task
    * work"): byte-identical to the HOF chain it replaces —
    * `mds = ntok>=3 ? transform(shingles, md5) : [md5(text)]`, lane l =
    * array_min of hex slice [8l+1..8l+8], sig = 4 lanes concatenated —
    * but as one compiled loop instead of five interpreted
    * transform/array_min passes that materialize the per-shingle digest
    * array (Spark HOFs don't codegen; the t4/t10 UDF precedent). The
    * per-shingle digest never materializes: each digest folds into 4
    * running minima. String.compareTo on lowercase hex == SQL string
    * min, so lanes match the oracle's list_min exactly. Null contract
    * mirrors the HOF chain: <3 tokens (or null t — when()'s null
    * condition also took the otherwise branch) hashes the RAW text;
    * null text → null sig. */
  private[graft] val sig4 = udf((ts: Seq[String], text: String) => {
    val md = sig4Md5.get()
    def md5Hex(v: String): String = {
      val dg = md.digest(v.getBytes("UTF-8")); md.reset()
      val hex = new Array[Char](32)
      var i = 0
      while (i < 16) {
        hex(2 * i) = hexChars((dg(i) >> 4) & 0xf)
        hex(2 * i + 1) = hexChars(dg(i) & 0xf)
        i += 1
      }
      new String(hex)
    }
    if (ts == null || ts.length < 3) {
      if (text == null) null else {
        val m = md5Hex(text)
        m.substring(0, 8) + m.substring(8, 16) + m.substring(16, 24) +
          m.substring(24, 32)
      }
    } else {
      val mins = new Array[String](4)
      var i = 0
      while (i + 2 < ts.length) {
        val m = md5Hex(ts(i) + " " + ts(i + 1) + " " + ts(i + 2))
        var l = 0
        while (l < 4) {
          val sl = m.substring(8 * l, 8 * l + 8)
          if (mins(l) == null || sl.compareTo(mins(l)) < 0) mins(l) = sl
          l += 1
        }
        i += 1
      }
      mins(0) + mins(1) + mins(2) + mins(3)
    }
  })

  /** T40: curation funnel — lang gate → length gate → repetition gate →
    * exact dedup → near dedup → per-lang quota sample, reported as
    * per-stage surviving docs + tokens. Stage thresholds are corpus
    * calibrated (n_chars 48–553, distinct-token-ratio quartiles
    * .28/.36/.46/.60) so every stage does non-vacuous work. */
  def t40_curation_pipeline(s: SparkSession, d: String): DataFrame = {
    // r22 (guide §1.2): the shingle-md5 signature is GATED on f3 — a row
    // that failed the stateless gates can never be an exact-dedup
    // survivor (f4 ⊆ f3), and a non-f4 row's sig only ever places it in
    // a near-dup partition where it contributes nothing to
    // min(CASE WHEN f4 ...) and its own f5 is false either way. A
    // gate failure takes a per-doc sentinel sig instead: a leading NUL
    // no hex signature can carry, so it never joins a real sig's
    // partition, and failures spread over their own singleton keys
    // rather than piling every one of them into a single window
    // partition (a NULL sig would, since NULLs hash alike). So every
    // stage count is unchanged while only repetition-gate survivors
    // pay the signature compute (the pipeline's dominant per-row
    // cost). Proven against the ungated HOF form in CurationSpec.
    val enr = statelessGates(triCorpus(s, d))
      .withColumn("sig", when(col("f3"), sig4(col("t"), col("text")))
        .otherwise(concat(lit("\u0000"), col("doc_id").cast("string"))))
    val wH = Window.partitionBy("h")
    val wS = Window.partitionBy("sig")
    val flagged = enr
      .withColumn("f4", col("f3") &&
        col("doc_id") === min(when(col("f3"), col("doc_id"))).over(wH))
      .withColumn("f5", col("f4") &&
        col("doc_id") === min(when(col("f4"), col("doc_id"))).over(wS))
      // mixture reweighting at the gate: downsample the dominant lang
      .withColumn("f6", col("f5") && md5Bucket(col("doc_id")) <
        when(col("lang") === "en", 80).otherwise(50))
    flagged.agg(
        count(lit(1)).as("c0"), sum(col("ntok")).as("k0"),
        count(when(col("f1"), 1)).as("c1"), sum(when(col("f1"), col("ntok"))).as("k1"),
        count(when(col("f2"), 1)).as("c2"), sum(when(col("f2"), col("ntok"))).as("k2"),
        count(when(col("f3"), 1)).as("c3"), sum(when(col("f3"), col("ntok"))).as("k3"),
        count(when(col("f4"), 1)).as("c4"), sum(when(col("f4"), col("ntok"))).as("k4"),
        count(when(col("f5"), 1)).as("c5"), sum(when(col("f5"), col("ntok"))).as("k5"),
        count(when(col("f6"), 1)).as("c6"), sum(when(col("f6"), col("ntok"))).as("k6"))
      .selectExpr("stack(7, " +
        "0, 'input',             c0, k0, " +
        "1, 'lang_filter',       c1, k1, " +
        "2, 'length_filter',     c2, k2, " +
        "3, 'repetition_filter', c3, k3, " +
        "4, 'exact_dedup',       c4, k4, " +
        "5, 'near_dedup',        c5, k5, " +
        "6, 'quota_sample',      c6, k6) AS (stage_idx, stage, docs, tokens)")
      .orderBy("stage_idx")
  }

  /** T41: mixture planner — the data-scheduling step that turns "train
    * on 40% en / 20% de / 15% es / 15% fr / 10% zh" plus a token budget
    * into per-source sampling rates and epoch counts. tokens_have is a
    * one-pass per-row token count + per-lang partial agg (map-side
    * combined, 5 rows out); the arithmetic is per-group. epochs > 1 ⇔
    * the source must be repeated to hit its target (upsampling), the
    * signal every mixture run needs surfaced. Budget is sized so the
    * sf0.01 corpus genuinely mixes both directions: de must upsample
    * (2 epochs), en/es/fr/zh downsample at rates 0.48–0.80. */
  def t41_mixture_plan(s: SparkSession, d: String): DataFrame = {
    val budget = 20000.0
    documents(s, d)
      .select(col("lang"), size(split(trim(col("text")), " ")).as("ntok"))
      .groupBy("lang").agg(sum(col("ntok")).as("tokens_have"))
      .withColumn("weight",
        when(col("lang") === "en", 0.40)
          .when(col("lang") === "de", 0.20)
          .when(col("lang") === "es", 0.15)
          .when(col("lang") === "fr", 0.15)
          .otherwise(0.10))
      .withColumn("tokens_target", round(col("weight") * budget).cast("long"))
      .withColumn("sample_rate",
        round(least(lit(1.0), col("tokens_target") / col("tokens_have")), 4))
      .withColumn("epochs",
        ceil(col("tokens_target").cast("double") / col("tokens_have")).cast("int"))
      .orderBy("lang")
  }

  /** T42: sequence-packing accounting — the GPT-style "concatenate the
    * corpus, cut every L tokens" packing step every pretraining run
    * performs, reported as the numbers a data engineer sizes batches
    * with: how many L-token sequences the corpus yields, how many
    * documents straddle a cut (their loss masks span two sequences),
    * and the densest sequence's document count (attention-mask
    * fragmentation). Token counts use the chars/4 estimate — pure
    * arithmetic, deterministic in both engines.
    *
    * Scale design: document offsets are a PREFIX SUM over doc_id
    * order, and a naive `Window.orderBy(doc_id)` collapses to ONE
    * partition at 100 TB. This computes the textbook two-level
    * distributed prefix sum instead: fixed doc_id buckets →
    * per-bucket token sums (map-side partial agg, ~n/B rows) → a
    * driver-scale cumsum over bucket totals → broadcast the bucket
    * offsets back → within-bucket cumsum windows run PARALLEL per
    * bucket. The only global-order structure ever materialized is the
    * tiny bucket-totals table. */
  def t42_sequence_pack(s: SparkSession, d: String): DataFrame = {
    val L = 2048L
    val bucketW = graft.ScaleKnobs.PackBucketWidth // doc_ids per bucket
    val toks = documents(s, d).select(
      col("doc_id"),
      greatest(lit(1L), ceil(coalesce(col("n_chars"), lit(0L)) / 4.0)
        .cast("long")).as("ntok"),
      floor(col("doc_id") / bucketW).as("bkt"))
    val bucketTotals = toks.groupBy("bkt")
      .agg(sum(col("ntok")).as("bkt_tokens"))
    val bucketOffsets = bucketTotals
      .withColumn("bkt_offset",
        coalesce(sum(col("bkt_tokens")).over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bkt", "bkt_offset")
    val placed = toks
      .join(broadcast(bucketOffsets), "bkt")
      .withColumn("start", col("bkt_offset") +
        coalesce(sum(col("ntok")).over(
          Window.partitionBy("bkt").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq_id", floor(col("start") / L))
      .withColumn("straddles",
        floor((col("start") + col("ntok") - 1) / L) =!= col("seq_id"))
    val perSeq = placed.groupBy("seq_id").agg(count(lit(1)).as("n_docs_in_seq"))
    placed.agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("total_tokens"),
        (floor((sum(col("ntok")) - 1) / L) + 1).as("n_sequences"),
        count(when(col("straddles"), 1)).as("n_straddlers"))
      .join(broadcast(perSeq.agg(
        max(col("n_docs_in_seq")).as("max_docs_per_seq"))))
  }

  /** T43: deterministic corpus split — the train/val/test assignment
    * every dataset ships with, as a pure function of the stable doc_id
    * (md5 of its decimal string, first two hex digits = 256 buckets:
    * test < 0x03, val < 0x06, train the rest ≈ 98.8/1.2/1.2). Hash
    * splits are the industry default because they are REPRODUCIBLE
    * (no RNG state), STABLE under corpus growth (a doc's split never
    * changes when others are added), and JOIN-FREE (any pipeline
    * recomputes membership in place — at 100 TB nobody materializes a
    * membership table). md5 is bit-identical across engines, which is
    * exactly the property that makes the split portable — and makes
    * this oracle exact. */
  def t43_hash_split(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("h2", substring(md5(col("doc_id").cast("string")), 1, 2))
      .withColumn("split",
        when(col("h2") < "03", "test")
          .when(col("h2") < "06", "val")
          .otherwise("train"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_chars"), lit(0L))).as("total_chars"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("split")
  }

  /** T44: benchmark decontamination — the pre-training hygiene step
    * that flags training documents sharing verbatim n-grams with an
    * evaluation set (the Lee/GPT-3 decontamination recipe: exact
    * 5-gram collision here; production uses 8–13-grams — a tunable).
    * The fixture's eval set is every 20th document's first-30-token
    * "prompt", so its source documents are contaminated by
    * construction and the flagging must find them through shingle
    * overlap, not identity.
    *
    * Scale shape: the eval side is SMALL by nature (benchmarks are
    * thousands of items, the corpus is billions) — its distinct
    * shingle set broadcasts, so the corpus-side cost is one
    * projection + explode with NO shuffle of corpus text; contaminated
    * ids distinct on a bare-id column. Never an all-pairs comparison. */
  def t44_decontamination(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
    val sh5 = expr("array_distinct(transform(sequence(1, size(t) - 4), " +
      "i -> concat_ws(' ', slice(t, i, 5))))")
    val evalSh = tok.filter(col("doc_id") % 20 === 0)
      .select(slice(col("t"), 1, 30).as("t"))
      .filter(size(col("t")) >= 5)
      .select(explode(sh5).as("sh")).distinct()
    val contaminated = tok.filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(sh5).as("sh"))
      .join(broadcast(evalSh), "sh")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1))
    documents(s, d).select(col("doc_id"), col("source"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("rate",
        round(col("n_contaminated") / col("n_docs"), 4))
      .orderBy("source")
  }

  /** T45: the dataset card — the one-row factsheet a curation run
    * publishes with its artifact (the "datasheet for datasets"
    * practice): corpus size, token estimate, language breadth and
    * dominance, exact-duplicate rate, and the split sizes, all in ONE
    * corpus pass plus one tiny top-lang aggregate. Every figure is
    * integer-exact or a 4dp-rounded ratio, so the card itself sits
    * under the cross-engine hash gate like any other query. */
  def t45_dataset_card(s: SparkSession, d: String): DataFrame = {
    val doc = documents(s, d)
    val enr = doc.select(col("doc_id"), col("lang"),
        coalesce(col("n_chars"), lit(0L)).as("nc"),
        md5(coalesce(col("text"), lit(""))).as("h"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("h2"))
      .withColumn("dup", row_number().over(
        Window.partitionBy("h").orderBy("doc_id")) > 1)
      .withColumn("split", when(col("h2") < "03", "test")
        .when(col("h2") < "06", "val").otherwise("train"))
    val top = doc.groupBy("lang").agg(count(lit(1)).as("topn"))
      .orderBy(col("topn").desc, col("lang").asc).limit(1)
      .select(col("lang").as("top_lang"), col("topn"))
    enr.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(greatest(lit(1L), ceil(col("nc") / 4.0).cast("long")))
          .as("est_tokens"),
        count(when(col("dup"), 1)).as("n_exact_dups"),
        count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "val", 1)).as("n_val"),
        count(when(col("split") === "test", 1)).as("n_test"))
      .join(broadcast(top))
      .withColumn("dup_rate",
        round(col("n_exact_dups") / col("n_docs"), 4))
      .withColumn("top_lang_share", round(col("topn") / col("n_docs"), 4))
      .drop("topn")
  }

  /** T46 — sliding-window CHUNKING: the RAG-indexing / context-window
    * counterpart of t42's packing. Each document becomes overlapping
    * windows of W=64 whitespace tokens with O=16 overlap (stride 48,
    * the classic fixed-window chunker); every chunk carries
    * (doc_id, chunk_idx, n_tokens, chunk_md5), so the board row is the
    * FULL chunk table and the oracle is row-exact, not an aggregate.
    *
    * Scale shape: pure per-row compute — split + sequence + one
    * posexplode, a single WholeStageCodegen span with NO shuffle until
    * the output sort. The explode multiplies rows, never payload: each
    * chunk row carries only its own token slice (hashed immediately to
    * 32 bytes), so a 100 TB corpus chunks at scan speed and the
    * downstream (embedding, indexing — T5/T6/T31) sees fixed-size
    * units. W/stride are the documented context-window knobs. */
  def t46_chunking(s: SparkSession, d: String): DataFrame = {
    val w = 64
    val stride = 48 // = W - overlap(16)
    val toks = documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
    val nChunks = (lit(1) + ceil(
      greatest(col("n") - w, lit(0)) / lit(stride.toDouble)).cast("int"))
    toks
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("t"), col("chunk_idx") * stride + 1, lit(w)).as("ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ct")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("ct"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** T47 — PII scrubbing: the safety pass a training corpus runs
    * before release. Three ASCII pattern classes — email, US-shaped
    * phone, SSN-shaped — are counted per document and redacted to
    * typed placeholders in a fixed order (email → SSN → phone). The
    * corpus is augmented with PLANTED rows (doc_id + 1,000,000,
    * deterministic PII synthesized from the doc_id — the t26 planting
    * idiom) so the scrub provably fires; the board row is every
    * PII-bearing doc's (counts, redacted-text md5) — row-exact against
    * the oracle's identical regex algebra.
    *
    * Scale shape: a pure per-row codegen'd projection — no shuffle
    * until the output sort; patterns are deliberately RE2∩Java-safe
    * (character classes, bounded repeats, \b — no backrefs or
    * lookarounds), which is also what keeps them portable to any
    * engine that might co-own the corpus at 100 TB. */
  def t47_pii_redaction(s: SparkSession, d: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val base = documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
    val planted = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("contact u"), col("doc_id"), lit("@example.com or "),
          lit("415-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 123-45-6789 "), col("t")).as("t"))
    val corpus = base.unionByName(planted)
    val out = corpus
      .withColumn("n_emails", regexp_count(col("t"), lit(email)))
      .withColumn("n_ssns", regexp_count(col("t"), lit(ssn)))
      .withColumn("n_phones", regexp_count(col("t"), lit(phone)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("t"),
          email, "<EMAIL>"), ssn, "<SSN>"), phone, "<PHONE>"))
    out.filter(col("n_emails") + col("n_ssns") + col("n_phones") > 0)
      .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
        col("n_ssns").cast("long").as("n_ssns"),
        col("n_phones").cast("long").as("n_phones"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** T48 — SELECTION UNDER A TOKEN BUDGET: keep the highest-quality
    * documents whose tokens fit a budget (here 25% of the corpus) —
    * the "best N billion tokens" pass every data-constrained training
    * run ends with. Quality = the 3dp-rounded distinct-token ratio (a
    * deterministic stand-in for any per-doc scorer; the 3dp grid IS
    * the algorithm's histogram).
    *
    * Scale shape — the whole point: NO global sort. Quality buckets
    * aggregate to a ≤1001-row frame; a driver-sized running sum over
    * that frame (the t42 two-level idiom) classifies every bucket as
    * fully-in, fully-out, or THE boundary bucket; fully-in buckets
    * join-select their docs with no ordering at all, and only the
    * boundary bucket pays a within-bucket cumsum (one partition,
    * bounded by the bucket's size — tighten the quality grid to shrink
    * it). The naive form — a global `ORDER BY quality DESC` cumsum
    * window over the corpus — collapses to ONE partition at 100 TB;
    * the oracle replays exactly that naive form, so the board row
    * doubles as the two-level ≡ global-sort equivalence proof. */
  private val t48ToksMemo = new FrameMemo("documents.parquet")((s, d) =>
    documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), size(col("t")).cast("long").as("ntok"),
        round(size(array_distinct(col("t"))) / size(col("t")), 3).as("q")))

  def t48_budget_selection(s: SparkSession, d: String): DataFrame = {
    // The (doc_id, ntok, q) frame feeds FOUR branches of one action
    // (budget agg, bucket histogram, fullSel, boundarySel) — memoize it
    // so the tokenize scan runs once per session+corpus, not 4× per
    // action (the r12 verdict's one perf-weak finding). At 100 TB this
    // is one corpus pass instead of four.
    val toks = t48ToksMemo(s, d)
    val budget = toks.agg(
      floor(sum(col("ntok")) / 4).cast("long").as("budget"))
    // level 1: per-quality-bucket token totals + running sum over the
    // TINY bucket frame (≤1001 rows — the unpartitioned window is the
    // design, not an accident)
    val wB = Window.orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bc = toks.groupBy("q").agg(sum(col("ntok")).as("btok"))
      .withColumn("before", coalesce(sum(col("btok")).over(wB), lit(0L)))
      .crossJoin(broadcast(budget))
    val fullQ = bc.filter(col("before") + col("btok") <= col("budget"))
      .select("q")
    val boundary = bc.filter(col("before") < col("budget") &&
        col("before") + col("btok") > col("budget"))
      .select(col("q"), (col("budget") - col("before")).as("room"))
    // level 2: fully-in buckets need no ordering; only the boundary
    // bucket pays a (single-bucket) cumsum by doc_id
    val fullSel = toks.join(broadcast(fullQ), Seq("q"))
    val wD = Window.partitionBy("q").orderBy("doc_id")
    val boundarySel = toks.join(broadcast(boundary), Seq("q"))
      .withColumn("run", sum(col("ntok")).over(wD))
      .filter(col("run") <= col("room"))
      .select(fullSel.columns.toIndexedSeq.map(col): _*)
    fullSel.unionByName(boundarySel)
      .crossJoin(broadcast(budget))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("ntok")).as("sel_tokens"),
        sum(col("doc_id")).as("key_checksum"),
        round(min(col("q")), 3).as("threshold_q"),
        max(col("budget")).as("budget"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t40_curation_pipeline" -> (t40_curation_pipeline _),
    "t41_mixture_plan" -> (t41_mixture_plan _),
    "t42_sequence_pack" -> (t42_sequence_pack _),
    "t43_hash_split" -> (t43_hash_split _),
    "t44_decontamination" -> (t44_decontamination _),
    "t45_dataset_card" -> (t45_dataset_card _),
    "t46_chunking" -> (t46_chunking _),
    "t47_pii_redaction" -> (t47_pii_redaction _),
    "t48_budget_selection" -> (t48_budget_selection _),
  )

  val oracle: Map[String, String] = Map(
    "t40_curation_pipeline" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
         tri AS (
           SELECT doc_id, text, lang, source FROM base
           UNION ALL
           SELECT doc_id + 1000000, text, lang, source FROM base
           UNION ALL
           SELECT doc_id + 2000000, regexp_replace(text, '\s+\S+$', ''), lang, source FROM base),
         e1 AS (
           SELECT doc_id, lang, text,
                  string_split(trim(text), ' ') AS t,
                  len(trim(text)) AS cl,
                  md5(lower(trim(text))) AS h
           FROM tri),
         e2a AS (
           SELECT *, len(t) AS ntok,
                  len(list_distinct(t)) * 1.0 / len(t) AS ratio,
                  CASE WHEN len(t) >= 3 THEN
                    list_transform(range(1, len(t) - 1),
                      i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [md5(text)] END AS mds
           FROM e1),
         e2 AS (
           SELECT * EXCLUDE (mds),
                  list_min(list_transform(mds, m -> m[1:8]))
                  || list_min(list_transform(mds, m -> m[9:16]))
                  || list_min(list_transform(mds, m -> m[17:24]))
                  || list_min(list_transform(mds, m -> m[25:32])) AS sig
           FROM e2a),
         e3 AS (
           SELECT *,
                  (lang <> 'zh') AS f1,
                  (lang <> 'zh' AND cl BETWEEN 100 AND 520) AS f2,
                  (lang <> 'zh' AND cl BETWEEN 100 AND 520
                     AND ntok > 0 AND ratio >= 0.35) AS f3
           FROM e2),
         e4 AS (SELECT *, (f3 AND doc_id =
                  min(CASE WHEN f3 THEN doc_id END) OVER (PARTITION BY h)) AS f4 FROM e3),
         e5 AS (SELECT *, (f4 AND doc_id =
                  min(CASE WHEN f4 THEN doc_id END) OVER (PARTITION BY sig)) AS f5 FROM e4),
         e6 AS (SELECT *, (f5 AND
                  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) AS BIGINT) % 100
                    < CASE WHEN lang = 'en' THEN 80 ELSE 50 END) AS f6 FROM e5)
         SELECT * FROM (
           SELECT 0 AS stage_idx, 'input' AS stage,
                  count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS tokens FROM e6
           UNION ALL SELECT 1, 'lang_filter',
                  count(*) FILTER (f1), CAST(sum(ntok) FILTER (f1) AS BIGINT) FROM e6
           UNION ALL SELECT 2, 'length_filter',
                  count(*) FILTER (f2), CAST(sum(ntok) FILTER (f2) AS BIGINT) FROM e6
           UNION ALL SELECT 3, 'repetition_filter',
                  count(*) FILTER (f3), CAST(sum(ntok) FILTER (f3) AS BIGINT) FROM e6
           UNION ALL SELECT 4, 'exact_dedup',
                  count(*) FILTER (f4), CAST(sum(ntok) FILTER (f4) AS BIGINT) FROM e6
           UNION ALL SELECT 5, 'near_dedup',
                  count(*) FILTER (f5), CAST(sum(ntok) FILTER (f5) AS BIGINT) FROM e6
           UNION ALL SELECT 6, 'quota_sample',
                  count(*) FILTER (f6), CAST(sum(ntok) FILTER (f6) AS BIGINT) FROM e6)
         ORDER BY stage_idx""",
    "t41_mixture_plan" ->
      """WITH have AS (
           SELECT lang, CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS tokens_have
           FROM documents GROUP BY lang),
         w AS (
           SELECT *, CAST(CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.20
                               WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                               ELSE 0.10 END AS DOUBLE) AS weight
           FROM have)
         SELECT lang, tokens_have, weight,
                CAST(round(weight * 20000) AS BIGINT) AS tokens_target,
                round(least(1.0, CAST(round(weight * 20000) AS BIGINT) / tokens_have), 4) AS sample_rate,
                CAST(ceil(CAST(round(weight * 20000) AS BIGINT) * 1.0 / tokens_have) AS INTEGER) AS epochs
         FROM w ORDER BY lang""",
    // the oracle computes the SAME packing with one global cumsum —
    // the distributed two-level prefix sum must be value-identical
    "t42_sequence_pack" ->
      """WITH toks AS (
           SELECT doc_id,
                  GREATEST(1, CAST(CEIL(COALESCE(n_chars, 0) / 4.0) AS BIGINT)) AS ntok
           FROM documents),
         placed AS (
           SELECT ntok,
                  COALESCE(SUM(ntok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM toks),
         seqd AS (
           SELECT ntok,
                  CAST(FLOOR(st / 2048.0) AS BIGINT) AS seq_id,
                  CAST(FLOOR((st + ntok - 1) / 2048.0) AS BIGINT)
                    != CAST(FLOOR(st / 2048.0) AS BIGINT) AS straddles
           FROM placed)
         SELECT count(*) AS n_docs,
                CAST(sum(ntok) AS BIGINT) AS total_tokens,
                CAST(FLOOR((sum(ntok) - 1) / 2048.0) + 1 AS BIGINT) AS n_sequences,
                count(*) FILTER (WHERE straddles) AS n_straddlers,
                (SELECT max(c) FROM (SELECT count(*) AS c FROM seqd GROUP BY seq_id)) AS max_docs_per_seq
         FROM seqd""",
    // md5 is bit-identical across engines — the split IS the oracle
    "t43_hash_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '03' THEN 'test'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '06' THEN 'val'
                     ELSE 'train' END AS split,
                count(*) AS n_docs,
                CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars,
                CAST(sum(doc_id) AS BIGINT) AS id_checksum
         FROM documents GROUP BY 1 ORDER BY split""",
    // same 5-gram collision flagging; DuckDB builds shingles with
    // list_transform over 1-indexed ranges (the t12 idiom)
    "t44_decontamination" ->
      """WITH tok AS (
           SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         ev AS (SELECT t[1:30] AS t FROM tok WHERE doc_id % 20 = 0),
         evsh AS (
           SELECT DISTINCT unnest(list_transform(range(1, len(t) - 3),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                  t[i+3] || ' ' || t[i+4])) AS sh
           FROM ev WHERE len(t) >= 5),
         trsh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 3),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                  t[i+3] || ' ' || t[i+4]))) AS sh
           FROM tok WHERE len(t) >= 5),
         cont AS (SELECT DISTINCT tr.doc_id FROM trsh tr JOIN evsh e USING (sh))
         SELECT source, count(*) AS n_docs,
                count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM cont))
                  AS n_contaminated,
                round(CAST(count(*) FILTER (WHERE doc_id IN
                  (SELECT doc_id FROM cont)) AS DOUBLE) / count(*), 4) AS rate
         FROM documents GROUP BY source ORDER BY source""",
    // the card's figures are integer-exact or 4dp ratios — md5 parity
    // carries the dup and split lanes
    "t45_dataset_card" ->
      """WITH enr AS (
           SELECT doc_id, lang, COALESCE(n_chars, 0) AS nc,
                  row_number() OVER (PARTITION BY md5(COALESCE(text, ''))
                                     ORDER BY doc_id) > 1 AS dup,
                  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '03'
                         THEN 'test'
                       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '06'
                         THEN 'val'
                       ELSE 'train' END AS split
           FROM documents),
         top AS (SELECT lang AS top_lang, count(*) AS topn FROM documents
                 GROUP BY lang ORDER BY topn DESC, top_lang ASC LIMIT 1)
         SELECT count(*) AS n_docs,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(GREATEST(1, CAST(CEIL(nc / 4.0) AS BIGINT)))
                  AS BIGINT) AS est_tokens,
                count(*) FILTER (WHERE dup) AS n_exact_dups,
                count(*) FILTER (WHERE split = 'train') AS n_train,
                count(*) FILTER (WHERE split = 'val') AS n_val,
                count(*) FILTER (WHERE split = 'test') AS n_test,
                (SELECT top_lang FROM top) AS top_lang,
                round(CAST(count(*) FILTER (WHERE dup) AS DOUBLE)
                  / count(*), 4) AS dup_rate,
                round((SELECT topn FROM top) * 1.0 / count(*), 4)
                  AS top_lang_share
         FROM enr""",
    // fixed-window chunker replayed with list slicing: same W=64 /
    // stride=48 formula, same empty-token filter, same join-with-space
    // normalization before the md5 — row-exact per chunk
    "t46_chunking" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                              t -> t <> '') AS t
           FROM documents WHERE text IS NOT NULL),
         sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         chunks AS (
           SELECT doc_id, t, n,
                  UNNEST(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 48.0)
                    AS BIGINT))) AS chunk_idx
           FROM sized)
         SELECT doc_id, chunk_idx,
                CAST(len(t[chunk_idx * 48 + 1 :
                           least(chunk_idx * 48 + 64, n)]) AS BIGINT)
                  AS n_tokens,
                md5(array_to_string(
                  t[chunk_idx * 48 + 1 : least(chunk_idx * 48 + 64, n)], ' '))
                  AS chunk_md5
         FROM chunks
         ORDER BY doc_id, chunk_idx""",
    // identical regex algebra (RE2∩Java-safe patterns), identical
    // planting, identical email → SSN → phone redaction order
    "t47_pii_redaction" ->
      """WITH base AS (
           SELECT doc_id, coalesce(text, '') AS t FROM documents),
         planted AS (
           SELECT doc_id + 1000000 AS doc_id,
                  'contact u' || doc_id || '@example.com or 415-555-' ||
                  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                  ' ssn 123-45-6789 ' || t AS t
           FROM base WHERE doc_id % 50 = 0),
         corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         scrubbed AS (
           SELECT doc_id,
             len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssns,
             len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
           FROM corpus)
         SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
                CAST(n_ssns AS BIGINT) AS n_ssns,
                CAST(n_phones AS BIGINT) AS n_phones,
                md5(redacted) AS redacted_md5
         FROM scrubbed
         WHERE n_emails + n_ssns + n_phones > 0
         ORDER BY doc_id""",
    // the NAIVE replay: one global cumsum over (quality desc, doc_id)
    // — exactly the single-partition shape the Spark side's two-level
    // selection avoids; equal results = the equivalence proof
    "t48_budget_selection" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '') AS t
           FROM documents WHERE text IS NOT NULL),
         s AS (
           SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok,
                  round(len(list_distinct(t)) * 1.0 / len(t), 3) AS q
           FROM toks WHERE len(t) > 0),
         b AS (SELECT CAST(floor(sum(ntok) / 4) AS BIGINT) AS budget FROM s),
         r AS (
           SELECT doc_id, ntok, q,
                  sum(ntok) OVER (ORDER BY q DESC, doc_id ASC
                    ROWS UNBOUNDED PRECEDING) AS run
           FROM s)
         SELECT count(*) AS n_selected,
                CAST(sum(ntok) AS BIGINT) AS sel_tokens,
                CAST(sum(doc_id) AS BIGINT) AS key_checksum,
                round(min(q), 3) AS threshold_q,
                (SELECT budget FROM b) AS budget
         FROM r WHERE run <= (SELECT budget FROM b)""",
  )
}
