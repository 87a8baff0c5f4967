package graft.queries

import graft.Tables
import graft.operators.{Contamination, ConnectedComponents, Packing, QualityRules, Sampling, SimilarityJoin, Spread, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators (round 2 extension set): quality-rule
  * filtering, repetition signals, sequence packing, group quotas, PII
  * redaction, benchmark decontamination, weighted sampling, and the
  * EXACT prefix-filtered similarity join. Every query here is
  * DuckDB-oracle-checked — including the sequential packing pass (a
  * recursive CTE recomputes it row by row) and the similarity join
  * (checked against the brute-force cross join).
  */
object TrainQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def r6(c: Column): Column = floor(c * 1000000 + lit(0.50001)) / 1000000

  /** DuckDB fragment: single-space tokens, empties dropped (mirrors
    * [[QualityRules.spaceTokens]]).
    */
  private val duckToks =
    "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** DuckDB fragment: distinct 5-word shingles of `tk` (mirrors
    * [[QualityRules.wordShingles]] at n = 5).
    */
  private val duckShingles5 =
    "list_distinct([array_to_string(tk[i:i+4], ' ') for i in generate_series(1, len(tk) - 4)])"

  /** Shared interpolated-KN CTE chain for the q138/q140 oracles (one
    * builder so the two replays cannot drift — the q104/q132 rule):
    * bigram pass, model type-table statistics over the `modelWhere`
    * slice of documents, the OOV CASE ladder of
    * [[QualityRules.knBigramLmScoreAgainst]] (seen pair → discounted +
    * backoff; seen context → backoff mass; unseen context →
    * continuation; unseen continuation floors at 1/(2T)), per-TYPE
    * 1e-6 quantization, and the per-doc integer sums — ends in
    * `perdoc(doc_id, n_bigrams, kn_fp)`.
    */
  private def knScoreCtes(modelWhere: String): String =
    s"""toks AS (SELECT doc_id, $duckToks AS tk FROM documents),
       |bgr AS MATERIALIZED (
       |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
       |         tk[i] || ' ' || tk[i + 1] AS bg
       |  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
       |  WHERE len(tk) >= 2),
       |mcb AS MATERIALIZED (
       |  SELECT bg, min(w1) AS w1, min(w2) AS w2, count(*) AS cb
       |  FROM bgr JOIN documents dd USING (doc_id)
       |  WHERE $modelWhere GROUP BY bg),
       |mctx AS (SELECT w1, sum(cb) AS c1, count(*) AS n1p FROM mcb GROUP BY w1),
       |mcont AS (SELECT w2, count(*) AS n1l FROM mcb GROUP BY w2),
       |tot AS (SELECT count(*) AS t,
       |               sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS n1,
       |               sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS n2
       |        FROM mcb),
       |d AS (SELECT t, CASE WHEN n1 + 2 * n2 > 0
       |                     THEN n1 * 1.0 / (n1 + 2 * n2)
       |                     ELSE 0.5 END AS dd FROM tot),
       |stypes AS (SELECT bg, min(w1) AS w1, min(w2) AS w2 FROM bgr GROUP BY bg),
       |model AS MATERIALIZED (
       |  SELECT st.bg,
       |    CAST(floor(ln(
       |      CASE WHEN mb.cb IS NOT NULL
       |             THEN (mb.cb - d.dd) / mx.c1 + d.dd * mx.n1p / mx.c1
       |                  * coalesce(mc.n1l * 1.0 / d.t, 0.5 / d.t)
       |           WHEN mx.c1 IS NOT NULL
       |             THEN d.dd * mx.n1p / mx.c1
       |                  * coalesce(mc.n1l * 1.0 / d.t, 0.5 / d.t)
       |           ELSE coalesce(mc.n1l * 1.0 / d.t, 0.5 / d.t)
       |      END) * 1000000 + 0.50001) AS BIGINT) AS qlp
       |  FROM stypes st
       |  LEFT JOIN mcb mb ON mb.bg = st.bg
       |  LEFT JOIN mctx mx ON mx.w1 = st.w1
       |  LEFT JOIN mcont mc ON mc.w2 = st.w2
       |  CROSS JOIN d),
       |perdoc AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(qlp) AS BIGINT) AS kn_fp
       |  FROM bgr JOIN model ON model.bg = bgr.bg
       |  GROUP BY doc_id)""".stripMargin

  /** Gopher-style quality filter: rule signals + the pass predicate. */
  private def q51(s: SparkSession, d: String): DataFrame =
    QualityRules.gopherSignals(Tables.documents(s, d), "text")
      .filter(col("gopher_pass"))
      .select(
        col("doc_id"), col("n_words"),
        r6(col("mean_word_len")).as("mean_word_len"), col("stop_hits"))

  /** Per-document repetition: duplicate-bigram fraction. */
  private def q52(s: SparkSession, d: String): DataFrame =
    QualityRules.duplicateBigramFraction(Tables.documents(s, d), "doc_id", "text")
      .select(
        col("doc_id"), col("top_bigram_n"), col("n_bigrams"),
        r6(col("dup_bigram_frac")).as("dup_bigram_frac"))

  /** Greedy sequence packing: per-language 256-token bins in doc_id
    * order (the training-batch packing step).
    */
  private def q53(s: SparkSession, d: String): DataFrame = {
    // spread BEFORE the tokenize projection: expressions evaluate above
    // a repartition, so ensure-ing the sized frame would still tokenize
    // on the single scan partition
    val sized = Spread.ensure(Tables.documents(s, d)
      .select("doc_id", "lang", "text")).select(
      col("doc_id"), col("lang"),
      // coalesce: NULL text must count 0 on both engines (the operator
      // coerces anyway; the recursive-CTE oracle would poison its
      // running sum with NULL instead)
      coalesce(size(QualityRules.spaceTokens(col("text"))).cast("long"), lit(0L))
        .as("n_tokens"))
    Packing.greedyPack(sized, "lang", "n_tokens", Seq("doc_id"), capacity = 256L)
      .select("doc_id", "lang", "n_tokens", "bin")
  }

  /** Per-language quota: keep the 25 largest documents of each language
    * (n_chars desc, doc_id tiebreak).
    */
  private def q54(s: SparkSession, d: String): DataFrame =
    Sampling.capPerGroup(
      Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
      Seq("lang"), Seq(col("n_chars").desc, col("doc_id").asc), n = 25)

  /** PII redaction. The synthetic corpus carries no PII, so a
    * deterministic augmentation (same expression in the oracle) plants
    * an email + phone on every third document; the operator then counts
    * and redacts them. The redacted text is pinned by its md5.
    */
  private def q55(s: SparkSession, d: String): DataFrame = {
    val aug = when(
      col("doc_id") % 3 === 0,
      concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-"),
        (col("doc_id") % 9000 + 1000).cast("string")))
      .otherwise(col("text"))
    Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"), aug.as("__aug"))
      .select(
        col("doc_id"),
        TextAnalysis.piiCount(col("__aug"), TextAnalysis.emailPattern)
          .cast("long").as("n_emails"),
        TextAnalysis.piiCount(col("__aug"), TextAnalysis.phonePattern)
          .cast("long").as("n_phones"),
        md5(TextAnalysis.redactPii(col("__aug"))).as("red_md5"))
  }

  /** Benchmark decontamination probe: every 25th document is the "eval
    * set"; count each remaining document's distinct 5-gram overlaps.
    */
  private def q56(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Contamination.benchmarkOverlap(
      docs, docs.filter(col("doc_id") % 25 === 0), "doc_id", "text")
  }

  /** Deterministic weighted sample (A-ES, weight = n_chars, k = 50). */
  private def q57(s: SparkSession, d: String): DataFrame =
    Sampling.weightedSample(
      Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
      "doc_id", "n_chars", k = 50)

  /** EXACT similarity self-join: all pairs with 5-gram-shingle Jaccard
    * ≥ 0.5, via prefix filtering (no false negatives — unlike the
    * MinHash path q21, this is oracle-checkable against brute force).
    */
  private def q58(s: SparkSession, d: String): DataFrame =
    SimilarityJoin.jaccardJoin(Tables.documents(s, d), "doc_id", "text", tau = 0.5)
      .select(col("a_id"), col("b_id"), r6(col("jaccard")).as("jaccard"))

  /** End-to-end EXACT near-duplicate dedup: exact similarity join
    * (q58) → connected components → keep one survivor (min doc_id) per
    * cluster. Every stage is exact, so unlike sketch-based dedup the
    * whole pipeline is oracle-checkable: DuckDB recomputes the pairs by
    * brute force and the closure by recursive CTE.
    */
  private def q59(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = SimilarityJoin.jaccardJoin(docs, "doc_id", "text", tau = 0.5)
      .select(col("a_id"), col("b_id"))
    val comp = ConnectedComponents.byMinLabel(pairs)
    val dropped = comp.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.select("doc_id", "lang").join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Self-trained bigram-LM quality score (the "perplexity filter"). */
  private def q60(s: SparkSession, d: String): DataFrame =
    QualityRules.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
      .select(
        col("doc_id"), col("n_bigrams"),
        r6(col("lm_logprob")).as("lm_logprob"))

  /** Interpolated Kneser-Ney bigram LM score (the KenLM/CCNet smoothing;
    * add-one yardstick stays q60). Mean derived from the exact LONG sum,
    * so the value is order-independent at any scale.
    */
  private def q138(s: SparkSession, d: String): DataFrame =
    QualityRules.knBigramLmScore(Tables.documents(s, d), "doc_id", "text")
      .select(
        col("doc_id"), col("n_bigrams"), col("kn_fp"),
        (floor(col("kn_fp").cast("double") / col("n_bigrams") + lit(0.50001))
          / 1000000).as("kn_logprob_mean"))

  /** CCNet-style LM filter (Wenzek et al. 2020): the KN model is
    * trained on the TARGET slice (lang = 'en'), every document scored
    * against it (OOV handled in [[QualityRules.knBigramLmScoreAgainst]]),
    * and the corpus cut into head/middle/tail by the 30/40/30 global
    * score rank. The global rank is [[Packing.tokenOffsets]] with a
    * unit size column — an exclusive prefix COUNT through ONE range
    * exchange, no single-partition window anywhere (the q136
    * machinery); bucket cuts are integer arithmetic (`n*3 div 10`), so
    * no float percentile can flip a boundary between engines.
    */
  private def q140(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = QualityRules.knBigramLmScoreAgainst(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text")
      .withColumn("__negm", -(col("kn_fp").cast("double") / col("n_bigrams")))
      .withColumn("__one", lit(1L))
    val ranked = Packing.tokenOffsets(
      scored, "__one", Seq("__negm", "doc_id"), outCol = "rn")
    val tot = ranked.agg(count(lit(1)).as("__nn"))
    ranked.crossJoin(broadcast(tot)).select(
      col("doc_id"), col("n_bigrams"), col("kn_fp"), col("rn"),
      when(col("rn") < expr("__nn * 3 div 10"), "head")
        .when(col("rn") >= col("__nn") - expr("__nn * 3 div 10"), "tail")
        .otherwise("middle").as("bucket"))
  }

  /** Deterministic rebalance: every language downsampled to the size of
    * the smallest one (md5 gate — stable across runs and engines).
    */
  private def q61(s: SparkSession, d: String): DataFrame =
    Sampling.balanceGroups(
      Tables.documents(s, d).select("doc_id", "lang"), "doc_id", Seq("lang"))

  /** Context-window chunking: 40-token windows every 30 tokens (10-token
    * overlap), chunk text pinned by md5.
    */
  private def q62(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        posexplode(TextAnalysis.chunkWindows(col("text"), 40, 30))
          .as(Seq("chunk_idx", "__c")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(split(col("__c"), " ")).cast("long").as("n_tokens"),
        md5(col("__c")).as("chunk_md5"))

  /** Mixture sampling to an explicit target: 50% en / 25% zh / 25% de
    * (es/fr dropped), at the largest size the scarcest group supports.
    * Weights are binary-exact (0.5/0.25) so the per-group keep rates are
    * bit-identical across engines.
    */
  private def q63(s: SparkSession, d: String): DataFrame =
    Sampling.mixToTarget(
      Tables.documents(s, d).select("doc_id", "lang"), "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25))

  /** DSIR importance resampling: treat English documents as the target
    * domain, score everything by the hashed uni+bigram log importance
    * ratio, Gumbel-top-100. Integer fixed-point scores end-to-end.
    */
  private def q135(s: SparkSession, d: String): DataFrame =
    Sampling.dsirSelect(
      // computeWeight 10: DSIR's two corpus passes (hashed uni+bigram
      // histogram, then per-doc log-ratio scoring) are both scan-side
      // shingle+hash kernels — the q37 density class. r16 isolated A/B
      // at sf0.1 (19 KB/core, previously pass-through → both passes on
      // one task): q135 1.57 → 0.82 s (5-run medians, q110 control flat)
      Spread.ensure(Tables.documents(s, d).select("doc_id", "text", "lang"),
        computeWeight = 10.0),
      "doc_id", "text", isTarget = col("lang") === "en",
      buckets = 1024, k = 100)

  /** Concat-and-split packing context length (tokens per training
    * sequence) shared by q136/q137.
    */
  private val packLen = 512L

  /** Shared q136/q137 frame: every document's global token-stream
    * offset under doc_id order ([[Packing.tokenOffsets]] — the two-pass
    * distributed scan, NOT a single-partition window).
    */
  private def packedOffsets(s: SparkSession, d: String): DataFrame = {
    // spread BEFORE the tokenize projection (the q53 rule): the
    // operator's eager localCheckpoint materializes the token counts,
    // which must not happen on the single scan partition
    val sized = Spread.ensure(Tables.documents(s, d).select("doc_id", "text"))
      .select(
        col("doc_id"),
        coalesce(size(QualityRules.spaceTokens(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))
    Packing.tokenOffsets(sized, "n_tokens", Seq("doc_id"))
  }

  /** Concat-and-split sequence packing (Brown et al. 2020 / Raffel et
    * al. 2020 style): the corpus in doc_id order is ONE token stream
    * cut into 512-token training sequences; each document reports its
    * stream offset and the sequence span it covers. Integer DIV
    * end-to-end — no float in any bucketing decision.
    */
  private def q136(s: SparkSession, d: String): DataFrame =
    packedOffsets(s, d).select(
      col("doc_id"), col("n_tokens"), col("tok_start"),
      expr(s"tok_start DIV $packLen").as("seq_first"),
      when(col("n_tokens") > 0,
        expr(s"(tok_start + n_tokens - 1) DIV $packLen"))
        .otherwise(expr(s"tok_start DIV $packLen")).as("seq_last"),
      when(col("n_tokens") > 0,
        expr(s"(tok_start + n_tokens - 1) DIV $packLen")
          - expr(s"tok_start DIV $packLen") + 1L)
        .otherwise(lit(0L)).as("n_seqs"))

  /** The per-sequence manifest a training job reads: for every packed
    * 512-token sequence, how many documents contribute, the exact token
    * count (== 512 except the final partial sequence), and the first /
    * last contributing doc. Pure relational fan-out of q136's offsets
    * (explode over the covered sequence range) + one hash aggregation.
    */
  private def q137(s: SparkSession, d: String): DataFrame =
    packedOffsets(s, d)
      .filter(col("n_tokens") > 0)
      .select(
        col("doc_id"), col("n_tokens"), col("tok_start"),
        explode(sequence(
          expr(s"tok_start DIV $packLen"),
          expr(s"(tok_start + n_tokens - 1) DIV $packLen"))).as("seq_id"))
      .select(
        col("seq_id"), col("doc_id"),
        (least((col("seq_id") + 1L) * packLen, col("tok_start") + col("n_tokens"))
          - greatest(col("seq_id") * packLen, col("tok_start"))).as("__tok"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** BPE tokenizer APPLY under the frozen [[graft.model.BpeMerges]]
    * table (q108 computes the pair statistics BPE training starts from;
    * this is the trained tokenizer's encode stage). One row per document
    * with ≥ 1 word: total BPE token count and the space-joined id
    * stream. [[graft.operators.Bpe.encode]] — dictionary-encode distinct
    * words once, shuffle-hash join back, one per-doc agg.
    */
  private def q142(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.encode(
      Tables.documents(s, d), "doc_id", "text",
      graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf)

  /** Concat-and-split packing over REAL tokenizer output: q136's
    * two-pass distributed token scan fed by q142's BPE token counts
    * instead of whitespace counts (r11 verdict #3 — the packing family
    * previously batched space-token proxies). Every present document
    * has ≥ 1 token, so the zero-length guards q136 carries are not
    * needed here.
    */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val sized = graft.operators.Bpe.encode(
      Tables.documents(s, d), "doc_id", "text",
      graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf)
      .select(col("doc_id"), col("n_tokens"))
    Packing.tokenOffsets(sized, "n_tokens", Seq("doc_id")).select(
      col("doc_id"), col("n_tokens"), col("tok_start"),
      expr(s"tok_start DIV $packLen").as("seq_first"),
      expr(s"(tok_start + n_tokens - 1) DIV $packLen").as("seq_last"),
      (expr(s"(tok_start + n_tokens - 1) DIV $packLen")
        - expr(s"tok_start DIV $packLen") + 1L).as("n_seqs"))
  }

  /** Materialized training sequences — the final pipeline stage between
    * corpus and a training job's input: gather q142's per-document BPE
    * id streams into per-sequence token arrays cut at q143's 512-token
    * stream offsets ([[graft.operators.Packing.gatherSequences]] — doc
    * sliced once into covered-sequence fragments, posexplode, streaming
    * per-sequence fold; never `collect_list`). The operator emits
    * `token_ids: array<long>`; the registered projection renders it
    * space-joined (the q142 engine-portability convention) so the
    * DuckDB oracle can hash-compare it.
    */
  private def q144(s: SparkSession, d: String): DataFrame =
    Packing.gatherSequences(
      graft.operators.Bpe.encode(
        Tables.documents(s, d), "doc_id", "text",
        graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf),
      "n_tokens", "bpe_ids", Seq("doc_id"), packLen)
      .select(col("seq_id"), col("n_tokens"),
        array_join(transform(col("token_ids"), _.cast("string")), " ")
          .as("token_ids"))

  /** Shared q143/q144/q145/q146 stage: per-document BPE token counts
    * under the frozen fixture (the number every packing decision is
    * made on).
    */
  private def bpeSized(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.encode(
      Tables.documents(s, d), "doc_id", "text",
      graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf)
      .select(col("doc_id"), col("n_tokens"))

  /** Per-sequence document-boundary manifest — the loss-mask /
    * attention-mask input a training job derives for packed sequences:
    * within each 512-token sequence, where every document fragment
    * begins and how long it runs (`"start:len start:len …"`, stream
    * order). Pure relational fan-out (the q137 shape with sequence-local
    * offsets); the per-sequence assembly is a `sort_array(collect_list)`
    * — safe HERE, unlike the q142 id streams, because a sequence holds
    * at most `packLen` fragments by construction, so the group buffer is
    * capacity-bounded, never corpus-bounded.
    */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val L = packLen
    Packing.tokenOffsets(bpeSized(s, d), "n_tokens", Seq("doc_id"))
      .select(
        expr(s"explode(sequence(tok_start DIV $L, (tok_start + n_tokens - 1) DIV $L))")
          .as("seq_id"),
        col("tok_start"), col("n_tokens"))
      .select(
        col("seq_id"),
        (greatest(col("seq_id") * L, col("tok_start")) - col("seq_id") * L)
          .as("__fs"),
        (least((col("seq_id") + 1) * L, col("tok_start") + col("n_tokens"))
          - greatest(col("seq_id") * L, col("tok_start"))).as("__fl"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(" ",
          transform(sort_array(collect_list(struct(col("__fs"), col("__fl")))),
            x => concat(x.getField("__fs").cast("string"), lit(":"),
              x.getField("__fl").cast("string")))).as("boundaries"))
  }

  /** Deterministic epoch shuffle — the order a training job reads the
    * packed sequences in, reproducible across engines and runs: for
    * each epoch, sequences sort by `md5(seq_id ":" epoch)` (a fresh
    * pseudorandom permutation per epoch, no RNG state to ship) and get
    * their 0-based position via [[Ranking.globalRowNumber]] — the
    * two-pass distributed rank, never a single-partition window. The
    * per-epoch rebase is a 2-row broadcast join (min rank per epoch),
    * nothing driver-side.
    */
  private def q146(s: SparkSession, d: String): DataFrame =
    epochOrder(s, d, nEpochs = 2L)

  /** The q146 machinery with the epoch count LIFTED to a parameter (r13
    * verdict #8 — it was hardcoded `Seq(0L, 1L)`): epochs generate via
    * `sequence(0, n−1)`, so the rank runs over n_epochs × n_seqs rows
    * and the per-epoch rebase broadcast carries n rows — both linear in
    * n by construction. The registered q146 stays at 2 (its oracle's
    * shape); the TEXTSCALE `epoch_order_10` arm drives 10 epochs to
    * prove the linear shape at scale.
    */
  private[graft] def epochOrder(
      s: SparkSession, d: String, nEpochs: Long): DataFrame = {
    require(nEpochs > 0, "nEpochs must be positive")
    val L = packLen
    val seqs = Packing.tokenOffsets(bpeSized(s, d), "n_tokens", Seq("doc_id"))
      .select(
        expr(s"explode(sequence(tok_start DIV $L, (tok_start + n_tokens - 1) DIV $L))")
          .as("seq_id"))
      .distinct()
    val keyed = seqs
      .select(col("seq_id"),
        explode(sequence(lit(0L), lit(nEpochs - 1L))).as("epoch"))
      .withColumn("__k", md5(concat_ws(":", col("seq_id"), col("epoch"))))
    val ranked = graft.operators.Ranking.globalRowNumber(
      keyed, Seq(col("epoch"), col("__k"), col("seq_id")), "__rn")
    val base = ranked.groupBy(col("epoch")).agg(min(col("__rn")).as("__mn"))
    ranked.join(broadcast(base), Seq("epoch"))
      .select(col("epoch"), col("seq_id"),
        (col("__rn") - col("__mn")).as("position"))
  }

  /** Deterministic non-alphabet augmentation for q147 (the q55 planting
    * pattern): the synthetic corpus is pure `[a-y ]`, so without it the
    * byte-fallback path would never fire. ONE constant interpolated
    * into both engines; covers 1-byte (`!`, `,`, `?`), 2-byte (`¢ ¿`
    * and the in-alphabet accents `ü é ß`), 3-byte (`東 京 駅`), and —
    * since the r15 code-point fix — 4-byte SUPPLEMENTARY-plane UTF-8
    * (the emoji), so the driver gate itself proves losslessness
    * outside the BMP (a UTF-16 iterator would corrupt each surrogate
    * half to a `?` byte and hash-fail here). No apostrophe — it rides
    * inside a SQL string literal.
    */
  private val q147Plant = " zürich! crème 42¢ 東京駅 ¿ok? 😀ok"

  /** Encode→decode round trip under the frozen fixture — the
    * detokenize / sample-readback stage, and the LOSSLESSNESS proof of
    * the byte-fallback tokenizer (r13 verdict #4): every third document
    * is augmented with [[q147Plant]]'s non-alphabet characters, and the
    * DuckDB oracle computes the expected reconstruction DIRECTLY from
    * the source text as the EXACT whitespace-normalized input — no `?`
    * substitution, nothing lost. With the 256 `<0xNN>` byte tokens in
    * the vocabulary, `n_oov` is structurally 0 on any input. Equality
    * closes the loop over the whole encode→decode path: any
    * id-assignment, segmentation, byte-decomposition, assembly-order,
    * or reassembly defect on either side breaks the hash match.
    */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(q147Plant)))
        .otherwise(col("text")).as("text"))
    graft.operators.Bpe.decode(
      graft.operators.Bpe.encode(
        aug, "doc_id", "text",
        graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf),
      "bpe_ids", graft.model.BpeMerges.idOf)
      .select(col("doc_id"), col("n_oov"), col("decoded"))
  }

  /** Deterministic training-shard assignment — the file layout a
    * training job reads: the epoch-0 permutation (q146's md5 order) cut
    * into `nShards` CONTIGUOUS position ranges, `shard = position ×
    * nShards DIV total` — balanced to ±1 sequence with no second
    * shuffle (the shard id is a pure function of the rank), and
    * resume-friendly: step k of epoch 0 lives at shard `k·S DIV n`,
    * offset `k − first(shard)`. Per-sequence token counts ride along
    * (512 for every full sequence, the tail partial on the last) so a
    * shard's byte budget is auditable from the manifest alone. The
    * global count attaches as a ONE-ROW broadcast (the q135/q138 scalar
    * attach — whitelisted in PlanLint, bounded by construction).
    */
  private def q148(s: SparkSession, d: String): DataFrame = {
    val L = packLen
    val nShards = 8L
    // localCheckpoint: seqTok feeds TWO consumers (the ranked frame and
    // the 1-row total) — unpinned, the explode fan-out + seq_id groupBy
    // over the offsets frame would execute twice (r13 ADVICE; the
    // globalRowNumber pin discipline)
    val seqTok = Packing.tokenOffsets(bpeSized(s, d), "n_tokens", Seq("doc_id"))
      .select(
        expr(s"explode(sequence(tok_start DIV $L, (tok_start + n_tokens - 1) DIV $L))")
          .as("seq_id"),
        col("tok_start"), col("n_tokens"))
      .select(
        col("seq_id"),
        (least((col("seq_id") + 1) * L, col("tok_start") + col("n_tokens"))
          - greatest(col("seq_id") * L, col("tok_start"))).as("__fl"))
      .groupBy(col("seq_id")).agg(sum(col("__fl")).as("seq_tokens"))
      .localCheckpoint(true)
    val keyed = seqTok
      .withColumn("__k", md5(concat_ws(":", col("seq_id"), lit(0))))
    val ranked = graft.operators.Ranking.globalRowNumber(
      keyed, Seq(col("__k"), col("seq_id")), "__rn")
    val total = seqTok.agg(count(lit(1)).as("__total"))
    ranked.crossJoin(broadcast(total))
      .select(
        expr(s"(__rn - 1) * $nShards DIV __total").as("shard"),
        col("seq_id"),
        (col("__rn") - 1).as("position"),
        col("seq_tokens"))
  }

  /** Temperature-balanced language mixture at α = 0.5 (`p^α` sampling
    * with repetition — see [[Sampling.temperatureMix]]): English (the
    * majority class) downsamples, the low-resource languages upsample by
    * fractional repetition, total budget stays ≈ N. The oracle replays
    * the whole computation — counts, sqrt shares, grid-rounded rates,
    * md5 fractional gate, copy fan-out — from the parquet table.
    */
  private def q149(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureMix(
      Tables.documents(s, d).select("doc_id", "lang"),
      "doc_id", "lang", alpha = 0.5)

  /** The FUSED end-to-end curation lineage (r13 verdict #1) — the six
    * per-stage queries run as ONE job:
    * exact-substring cut (q134) → Gopher gate (q51) → semantic
    * decontamination (q139, IVF-blocked, eval = doc_id % 25) → BPE
    * encode (q142, frozen fixture) → sequence gather (q144) → epoch-0
    * shard manifest (q148 + `ids_md5` pinning every sequence's
    * CONTENT). Every interface the isolated queries never exercised is
    * on the hook here: cut text re-entering the encode contract through
    * the gate's 20-word floor, survivorship feeding the offsets' total
    * order, three stacked eager-checkpoint stages in one lineage. The
    * oracle is the composed CTE chain of the SAME per-stage builders
    * (CutOracleSql / BlockingOracleSql / bpeEncCtes / the q144+q148
    * fan), so neither side can drift from its per-stage spelling.
    */
  private def q150(s: SparkSession, d: String): DataFrame =
    graft.operators.CurationPipeline.curateToShards(
      Tables.documents(s, d),
      "doc_id", "text",
      decontam = Some((
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        graft.model.IvfCentroids.blockingFor(s, d))),
      merges = graft.model.BpeMerges.merges,
      idOf = graft.model.BpeMerges.idOf,
      seqLen = packLen)

  /** The fused lineage cut by TOKEN prefix sums (r14 verdict #8):
    * identical six-stage chain and epoch-0 md5 order as q150, with the
    * final shard cut swapped from q148's ±1-sequence rank to q152's
    * token-balanced policy ([[graft.operators.CurationPipeline]]
    * `balanceBy = "tokens"`). The skew this exists for is real INSIDE
    * the lineage: [[graft.operators.Packing.gatherSequences]] leaves
    * one short final partial sequence per corpus, which a count cut
    * silently hands to whichever shard the permutation lands it in.
    * The oracle is q150's composed CTE chain with only the `pos` tail
    * respelled as a window token prefix sum — the same can't-drift
    * sharing, now across THREE queries (q150/q152/q153).
    */
  private def q153(s: SparkSession, d: String): DataFrame =
    graft.operators.CurationPipeline.curateToShards(
      Tables.documents(s, d),
      "doc_id", "text",
      decontam = Some((
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        graft.model.IvfCentroids.blockingFor(s, d))),
      merges = graft.model.BpeMerges.merges,
      idOf = graft.model.BpeMerges.idOf,
      seqLen = packLen,
      balanceBy = "tokens")

  /** Token-balanced training shards (r13 verdict #7): q148's ±1-SEQUENCE
    * balance is byte-balanced only while every sequence is exactly 512
    * tokens; this is the `balanceBy = tokens` option over a frame whose
    * token masses genuinely VARY — doc-boundary-respecting packs
    * ([[Packing.greedyPack]] per-language bins over the REAL BPE token
    * counts, each bin ≤ 512 but rarely exactly 512). The epoch-0 md5
    * order is cut at token prefix sums
    * ([[graft.operators.Sharding.tokenBalancedShards]] — the
    * tokenOffsets shape + a ONE-ROW broadcast total), so every shard
    * carries ≈ total/8 tokens no matter how skewed the packs are. The
    * oracle replays the packer by recursive CTE (the q53 replay under
    * BPE counts) and the cut by window prefix sum.
    */
  private def q152(s: SparkSession, d: String): DataFrame = {
    val enc = graft.operators.Bpe.encode(
      Tables.documents(s, d), "doc_id", "text",
      graft.model.BpeMerges.merges, graft.model.BpeMerges.idOf)
      .select(col("doc_id"), col("n_tokens"))
    val sized = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(enc, Seq("doc_id"))
    val packs = Packing.greedyPack(
      sized, "lang", "n_tokens", Seq("doc_id"), capacity = packLen)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
      .withColumn("__k", md5(concat_ws(":", col("lang"), col("bin"), lit(0))))
    graft.operators.Sharding.tokenBalancedShards(
      packs, "pack_tokens", Seq("__k", "lang", "bin"), nShards = 8L)
      .select(col("shard"), col("lang"), col("bin"), col("n_docs"),
        col("pack_tokens"), col("tok_start"))
  }

  val defs: Map[String, Q] = Map(
    "q142_bpe_encode" -> q142,
    "q143_pack_bpe" -> q143,
    "q144_pack_gather" -> q144,
    "q145_pack_boundaries" -> q145,
    "q146_epoch_order" -> q146,
    "q147_bpe_decode" -> q147,
    "q148_shard_assign" -> q148,
    "q149_mix_temperature" -> q149,
    "q150_curation_pipeline" -> q150,
    "q152_shard_tokens" -> q152,
    "q153_curation_tokens" -> q153,
    "q51_gopher_filter" -> q51,
    "q52_repetition" -> q52,
    "q53_pack_greedy" -> q53,
    "q54_group_cap" -> q54,
    "q55_pii_redact" -> q55,
    "q56_contamination" -> q56,
    "q57_weighted_sample" -> q57,
    "q58_simjoin_exact" -> q58,
    "q59_dedup_survivors" -> q59,
    "q60_lm_score" -> q60,
    "q61_balance_groups" -> q61,
    "q62_chunk_windows" -> q62,
    "q63_mix_to_target" -> q63,
    "q135_dsir_select" -> q135,
    "q136_pack_offsets" -> q136,
    "q137_pack_manifest" -> q137,
    "q138_kn_lm_score" -> q138,
    "q140_ccnet_lm_filter" -> q140
  )

  /** Shared q142/q143 oracle CTEs — replay the FROZEN
    * [[graft.model.BpeMerges]] table in DuckDB (salts-interpolated-from-
    * source discipline: merges and ids come from the same object the
    * Scala query consumes, so the engines cannot pick different
    * tokenizers).
    *
    * String-replace BPE replay: a word renders as `#` + chars joined by
    * `##` + `##</w>#` (DOUBLE separators between symbols, single at the
    * ends); merge (l, r) is then `replace('#l##r#' → '#lr#')`. SQL
    * `replace` scans left-to-right non-overlapping, each match consumes
    * exactly one separator of each flanking double pair — so adjacent
    * matches stay matchable and a merged token cannot re-pair within
    * the same rule: precisely the non-chaining single-pass semantics
    * of [[graft.operators.Bpe.segmentWordFast]] (property-spec'd
    * against a per-word reference in `BpeSpec`). The boundary
    * separators make every pattern anchor to WHOLE symbols (`#l#`
    * cannot match a symbol that merely ends or begins with `l`). `#`
    * never occurs in corpus tokens (alphabet [a-z0-9]; words split on
    * spaces) — an oracle-side assumption only, the Scala operator works
    * on symbol arrays.
    *
    * `src` parameterizes the corpus CTE the encode replays over
    * (default the raw `documents` table; q150 feeds the curated
    * survivor set) — one builder, every consumer, the factored-prefix
    * rule.
    */
  private def bpeEncCtes(src: String = "documents"): String = {
    val sep = "#"
    // DuckDB's binder caps expression-tree recursion at 128, so a
    // production-sized merge table CANNOT nest as one replace chain
    // (the 96-merge r12 fixture just fit). The chain is cut into
    // MATERIALIZED chunk CTEs of <=100 replaces — MATERIALIZED is
    // load-bearing: an inlined chain would re-form the over-deep
    // expression at bind time.
    val chunks = graft.model.BpeMerges.merges.grouped(100).zipWithIndex
      .map { case (grp, ci) =>
        val enc = grp.foldLeft("s") {
          case (s, (l, r)) =>
            s"replace($s, '$sep$l$sep$sep$r$sep', '$sep$l$r$sep')"
        }
        val src = if (ci == 0) "bpe_c_base" else s"bpe_c${ci - 1}"
        s"bpe_c$ci AS MATERIALIZED (SELECT w, $enc AS s FROM $src)"
      }.toSeq
    val lastC = s"bpe_c${chunks.size - 1}"
    val vocabRows = graft.model.BpeMerges.idOf.toSeq.sorted
      .map { case (t, i) => s"('$t', $i)" }.mkString(", ")
    // byte-fallback base decomposition (mirrors Bpe.charSyms): an
    // alphabet char is its own symbol; anything else expands to its
    // UTF-8 bytes as '<0xNN>' tokens — hex() is uppercase on both
    // engines, so the token spellings agree. Up to 4 bytes per char
    // (BMP chars are ≤ 3; the 4th term is belt and braces).
    val alphaList = graft.model.BpeMerges.baseAlphabet
      .map(c => s"'$c'").mkString("[", ", ", "]")
    s"""bpe_w AS MATERIALIZED (
       |  SELECT doc_id, w, pos FROM (
       |    SELECT doc_id,
       |      unnest(string_split(text, ' ')) AS w,
       |      unnest(range(len(string_split(text, ' ')))) AS pos
       |    FROM $src) t
       |  WHERE length(w) > 0),
       |bpe_vocab(tok, tid) AS (VALUES $vocabRows),
       |bpe_chars AS (
       |  SELECT w, i, substring(w, CAST(i AS INT), 1) AS c,
       |    hex(encode(substring(w, CAST(i AS INT), 1))) AS h
       |  FROM (SELECT DISTINCT w FROM bpe_w),
       |    unnest(range(1, length(w) + 1)) AS t(i)),
       |bpe_csym AS (
       |  SELECT w, i,
       |    CASE WHEN list_contains($alphaList, c) THEN c || '$sep$sep'
       |         ELSE '<0x' || substr(h, 1, 2) || '>$sep$sep' ||
       |           CASE WHEN length(h) >= 4
       |             THEN '<0x' || substr(h, 3, 2) || '>$sep$sep' ELSE '' END ||
       |           CASE WHEN length(h) >= 6
       |             THEN '<0x' || substr(h, 5, 2) || '>$sep$sep' ELSE '' END ||
       |           CASE WHEN length(h) >= 8
       |             THEN '<0x' || substr(h, 7, 2) || '>$sep$sep' ELSE '' END
       |    END AS piece
       |  FROM bpe_chars),
       |bpe_c_base AS MATERIALIZED (
       |  SELECT w, '$sep' || string_agg(piece, '' ORDER BY i) || '</w>$sep' AS s
       |  FROM bpe_csym GROUP BY w),
       |${chunks.mkString(",\n")},
       |bpe_dict AS MATERIALIZED (
       |  SELECT w, string_split(substr(s, 2, length(s) - 2), '$sep$sep') AS toks
       |  FROM $lastC),
       |bpe_tok AS (
       |  SELECT w, unnest(toks) AS tok, unnest(range(len(toks))) AS tpos
       |  FROM bpe_dict),
       |bpe_enc AS MATERIALIZED (
       |  SELECT t.w, CAST(count(*) AS BIGINT) AS wn,
       |    string_agg(CAST(coalesce(v.tid, -1) AS VARCHAR), ' ' ORDER BY t.tpos)
       |      AS wids
       |  FROM bpe_tok t LEFT JOIN bpe_vocab v ON v.tok = t.tok
       |  GROUP BY t.w),
       |bpe_doc AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(e.wn) AS BIGINT) AS n_tokens,
       |    string_agg(e.wids, ' ' ORDER BY w.pos) AS bpe_ids
       |  FROM bpe_w w JOIN bpe_enc e USING (w)
       |  GROUP BY doc_id)""".stripMargin
  }

  /** The fused curation lineage's oracle CTE chain through `seqs` (one
    * row per packed sequence: token mass + id stream) — cut
    * (CutOracleSql), Gopher gate on the cut text, IVF-blocked
    * decontamination over gate survivors, BPE encode, gather fan.
    * Shared VERBATIM by q150 and q153, which differ only in the
    * shard-cut tail appended after it (count rank vs token prefix
    * sum) — so the two fused queries cannot drift from each other any
    * more than from their per-stage builders.
    */
  private def curationOracleCtes: String =
    s"""${CutOracleSql.ctes(minLen = 50)},
       |gt AS (
       |  SELECT doc_id, text,
       |    len($duckToks) AS n_words,
       |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g')) AS n_nonspace,
       |    len(list_intersect(list_distinct($duckToks),
       |        ['the', 'a', 'and', 'of', 'to'])) AS stop_hits
       |  FROM cutdocs),
       |gated AS MATERIALIZED (
       |  SELECT doc_id, text FROM gt
       |  WHERE n_words BETWEEN 20 AND 90
       |    AND (CASE WHEN n_words = 0 THEN 0.0
       |         ELSE CAST(n_nonspace AS DOUBLE) / n_words END)
       |        BETWEEN 3.0 AND 4.6
       |    AND stop_hits >= 1),
       |${BlockingOracleSql.assignPrefix(nprobe = 4)},
       |assign AS MATERIALIZED (
       |  SELECT vec_id, cpos AS cell FROM (
       |    SELECT vec_id, cpos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cpos ASC) AS rn
       |    FROM sc) t WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id, cell FROM cells WHERE vec_id % 25 = 0),
       |cont AS (
       |  SELECT DISTINCT a.vec_id AS cid
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  JOIN ev cv ON cv.vec_id = a.vec_id
       |  JOIN ev pv ON pv.vec_id = p.vec_id
       |  JOIN gated gg ON gg.doc_id = a.vec_id
       |  WHERE a.vec_id % 25 <> 0
       |    AND list_cosine_similarity(pv.v, cv.v) >= 0.4),
       |surv AS MATERIALIZED (
       |  SELECT doc_id, text FROM gated
       |  WHERE doc_id % 25 <> 0 AND doc_id NOT IN (SELECT cid FROM cont)),
       |${bpeEncCtes(src = "surv")},
       |off AS (
       |  SELECT doc_id, n_tokens, bpe_ids,
       |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_start
       |  FROM bpe_doc),
       |fan AS (
       |  SELECT tok_start, n_tokens, bpe_ids,
       |    unnest(generate_series(tok_start // $packLen,
       |      (tok_start + n_tokens - 1) // $packLen)) AS s
       |  FROM off),
       |frag AS (
       |  SELECT s AS seq_id, tok_start,
       |    least((s + 1) * $packLen, tok_start + n_tokens)
       |      - greatest(s * $packLen, tok_start) AS fn,
       |    array_to_string(list_slice(string_split(bpe_ids, ' '),
       |      CAST(greatest(s * $packLen, tok_start) - tok_start + 1 AS BIGINT),
       |      CAST(least((s + 1) * $packLen, tok_start + n_tokens)
       |        - tok_start AS BIGINT)), ' ') AS frag
       |  FROM fan),
       |seqs AS (
       |  SELECT seq_id, CAST(sum(fn) AS BIGINT) AS seq_tokens,
       |    string_agg(frag, ' ' ORDER BY tok_start) AS token_ids
       |  FROM frag GROUP BY seq_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q142_bpe_encode" ->
      s"""WITH ${bpeEncCtes()}
         |SELECT doc_id, n_tokens, bpe_ids FROM bpe_doc""".stripMargin,
    // q143: the q136 window-replay discipline — the oracle MAY use the
    // single-partition window Spark must not (DuckDB is single-node)
    "q143_pack_bpe" ->
      s"""WITH ${bpeEncCtes()},
         |off AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM bpe_doc)
         |SELECT doc_id, n_tokens, tok_start,
         |  tok_start // $packLen AS seq_first,
         |  (tok_start + n_tokens - 1) // $packLen AS seq_last,
         |  (tok_start + n_tokens - 1) // $packLen
         |    - tok_start // $packLen + 1 AS n_seqs
         |FROM off""".stripMargin,
    // q144: replay the gather — same window prefix sum as q143, fan each
    // doc out over its covered sequences, list_slice the id stream to the
    // fragment, reassemble per sequence in stream (tok_start) order
    "q144_pack_gather" ->
      s"""WITH ${bpeEncCtes()},
         |off AS (
         |  SELECT doc_id, n_tokens, bpe_ids,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM bpe_doc),
         |fan AS (
         |  SELECT tok_start, n_tokens, bpe_ids,
         |    unnest(generate_series(tok_start // $packLen,
         |      (tok_start + n_tokens - 1) // $packLen)) AS s
         |  FROM off),
         |frag AS (
         |  SELECT s AS seq_id, tok_start,
         |    least((s + 1) * $packLen, tok_start + n_tokens)
         |      - greatest(s * $packLen, tok_start) AS fn,
         |    array_to_string(list_slice(string_split(bpe_ids, ' '),
         |      CAST(greatest(s * $packLen, tok_start) - tok_start + 1 AS BIGINT),
         |      CAST(least((s + 1) * $packLen, tok_start + n_tokens)
         |        - tok_start AS BIGINT)), ' ') AS frag
         |  FROM fan)
         |SELECT seq_id, CAST(sum(fn) AS BIGINT) AS n_tokens,
         |  string_agg(frag, ' ' ORDER BY tok_start) AS token_ids
         |FROM frag GROUP BY seq_id""".stripMargin,
    // q145: the q144 fan-out with sequence-LOCAL offsets, boundaries
    // assembled in stream order
    "q145_pack_boundaries" ->
      s"""WITH ${bpeEncCtes()},
         |off AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM bpe_doc),
         |fan AS (
         |  SELECT tok_start, n_tokens,
         |    unnest(generate_series(tok_start // $packLen,
         |      (tok_start + n_tokens - 1) // $packLen)) AS s
         |  FROM off),
         |frag AS (
         |  SELECT s AS seq_id,
         |    greatest(s * $packLen, tok_start) - s * $packLen AS fs,
         |    least((s + 1) * $packLen, tok_start + n_tokens)
         |      - greatest(s * $packLen, tok_start) AS fl
         |  FROM fan)
         |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  string_agg(CAST(fs AS VARCHAR) || ':' || CAST(fl AS VARCHAR),
         |    ' ' ORDER BY fs) AS boundaries
         |FROM frag GROUP BY seq_id""".stripMargin,
    // q146: per-epoch md5 permutation replayed with a window row_number
    // (single-node DuckDB may use the window Spark must not)
    "q146_epoch_order" ->
      s"""WITH ${bpeEncCtes()},
         |off AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM bpe_doc),
         |seqs AS (
         |  SELECT DISTINCT unnest(generate_series(tok_start // $packLen,
         |    (tok_start + n_tokens - 1) // $packLen)) AS seq_id
         |  FROM off),
         |keyed AS (
         |  SELECT seq_id, epoch,
         |    md5(CAST(seq_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS k
         |  FROM seqs, (SELECT unnest([0, 1]) AS epoch))
         |SELECT CAST(epoch AS BIGINT) AS epoch, seq_id,
         |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, seq_id) - 1
         |    AS BIGINT) AS position
         |FROM keyed""".stripMargin,
    // q152: BPE encode replay (bpeEncCtes) → per-lang greedy packer by
    // recursive CTE (the q53 replay, capacity 512, MATERIALIZED sized
    // for the same reason) → per-pack token sums → the epoch-0 md5
    // order cut at token prefix sums (window replay of the two-pass
    // distributed scan — the standing single-node oracle license)
    "q152_shard_tokens" ->
      s"""WITH RECURSIVE ${bpeEncCtes()},
         |sized AS MATERIALIZED (
         |  SELECT d.doc_id, d.lang, b.n_tokens,
         |    row_number() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rn
         |  FROM documents d JOIN bpe_doc b USING (doc_id)),
         |rec AS (
         |  SELECT doc_id, lang, n_tokens, rn,
         |    CAST(0 AS BIGINT) AS bin, n_tokens AS used
         |  FROM sized WHERE rn = 1
         |  UNION ALL
         |  SELECT s.doc_id, s.lang, s.n_tokens, s.rn,
         |    CASE WHEN r.used + s.n_tokens > $packLen THEN r.bin + 1 ELSE r.bin END,
         |    CASE WHEN r.used + s.n_tokens > $packLen THEN s.n_tokens
         |         ELSE r.used + s.n_tokens END
         |  FROM sized s JOIN rec r ON s.lang = r.lang AND s.rn = r.rn + 1),
         |packs AS (
         |  SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |  FROM rec GROUP BY lang, bin),
         |ord AS (
         |  SELECT lang, bin, n_docs, pack_tokens,
         |    md5(lang || ':' || CAST(bin AS VARCHAR) || ':0') AS k
         |  FROM packs),
         |cut AS (
         |  SELECT lang, bin, n_docs, pack_tokens,
         |    CAST(coalesce(sum(pack_tokens) OVER (ORDER BY k, lang, bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start,
         |    CAST(sum(pack_tokens) OVER () AS BIGINT) AS ttl
         |  FROM ord)
         |SELECT tok_start * 8 // greatest(ttl, 1) AS shard,
         |  lang, bin, n_docs, pack_tokens, tok_start
         |FROM cut""".stripMargin,
    // q147: the oracle does NOT replay the decode — it computes the
    // expected reconstruction directly from the (augmented) source text
    // as the EXACT whitespace-normalized input: under byte fallback the
    // round trip is lossless on any text, so the expected output is the
    // input itself, and expected n_oov is structurally zero. The
    // augmentation constant interpolates from the same q147Plant the
    // Scala query consumes.
    "q147_bpe_decode" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || '$q147Plant'
         |         ELSE text END AS t
         |  FROM documents),
         |ws AS (
         |  SELECT doc_id,
         |    list_filter(string_split(t, ' '), x -> len(x) > 0) AS ws
         |  FROM w)
         |SELECT doc_id, CAST(0 AS BIGINT) AS n_oov,
         |  array_to_string(ws, ' ') AS decoded
         |FROM ws WHERE len(ws) > 0""".stripMargin,
    // q148: replay the contiguous-range sharding — per-sequence token
    // sums from the q145 fan, the epoch-0 md5 permutation as a window
    // row_number (single-node DuckDB may use the window Spark must not),
    // shard = position * 8 // total
    "q148_shard_assign" ->
      s"""WITH ${bpeEncCtes()},
         |off AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM bpe_doc),
         |fan AS (
         |  SELECT tok_start, n_tokens,
         |    unnest(generate_series(tok_start // $packLen,
         |      (tok_start + n_tokens - 1) // $packLen)) AS s
         |  FROM off),
         |seqtok AS (
         |  SELECT s AS seq_id,
         |    CAST(sum(least((s + 1) * $packLen, tok_start + n_tokens)
         |      - greatest(s * $packLen, tok_start)) AS BIGINT) AS seq_tokens
         |  FROM fan GROUP BY s),
         |pos AS (
         |  SELECT seq_id, seq_tokens,
         |    CAST(row_number() OVER (
         |      ORDER BY md5(CAST(seq_id AS VARCHAR) || ':0'), seq_id) - 1
         |      AS BIGINT) AS position,
         |    CAST(count(*) OVER () AS BIGINT) AS total
         |  FROM seqtok)
         |SELECT position * 8 // total AS shard, seq_id, position, seq_tokens
         |FROM pos""".stripMargin,
    // q149: full replay of the temperature mix — per-lang counts, sqrt
    // shares, the SAME 1e-6 grid rounding of the rate (sqrt/division
    // agree across engines within ulps; the grid makes the resulting
    // doubles IDENTICAL), the md5 fractional-copy gate (q57's md5
    // replay), and the copy fan-out
    "q149_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT sum(n) AS total, sum(sqrt(n)) AS sw FROM c),
        |r AS (SELECT lang,
        |  floor((total * sqrt(n) / (sw * n)) * 1000000 + 0.50001) / 1000000
        |    AS rate
        |  FROM c, t),
        |g AS (SELECT d.doc_id, d.lang,
        |  CAST(floor(rate) AS BIGINT) + CASE WHEN
        |    CAST(CAST(CONCAT('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0
        |    < rate - floor(rate) THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN r USING (lang))
        |SELECT doc_id, lang, unnest(generate_series(1, copies)) AS copy
        |FROM g WHERE copies > 0""".stripMargin,
    // q150: the composed chain of the per-stage oracle builders — cut
    // (CutOracleSql, = q134), Gopher gate on the CUT text (the q51
    // thresholds), q139's rank-1-cell/4-probe decontamination restricted
    // to gate survivors (BlockingOracleSql prefix), BPE encode over the
    // survivor corpus (bpeEncCtes(src)), the q144 gather fan, and the
    // q148 md5 permutation + contiguous shard cut. DuckDB may use the
    // single-node windows Spark must not (the standing oracle license).
    // The chain through `seqs` is shared verbatim with q153 via
    // curationOracleCtes — only the shard-cut tail differs.
    "q150_curation_pipeline" ->
      s"""WITH $curationOracleCtes,
         |pos AS (
         |  SELECT seq_id, seq_tokens, token_ids,
         |    CAST(row_number() OVER (
         |      ORDER BY md5(CAST(seq_id AS VARCHAR) || ':0'), seq_id) - 1
         |      AS BIGINT) AS position,
         |    CAST(count(*) OVER () AS BIGINT) AS total
         |  FROM seqs)
         |SELECT position * 8 // total AS shard, seq_id, position, seq_tokens,
         |  md5(token_ids) AS ids_md5
         |FROM pos""".stripMargin,
    // q153: q150's chain with the shard cut respelled as q152's token
    // prefix sum — same md5 epoch-0 order, shard = tok_start * 8 //
    // total_tokens (window prefix sum; the single-node license again)
    "q153_curation_tokens" ->
      s"""WITH $curationOracleCtes,
         |pos AS (
         |  SELECT seq_id, seq_tokens, token_ids,
         |    CAST(COALESCE(sum(seq_tokens) OVER (
         |      ORDER BY md5(CAST(seq_id AS VARCHAR) || ':0'), seq_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_start,
         |    CAST(sum(seq_tokens) OVER () AS BIGINT) AS total
         |  FROM seqs)
         |SELECT tok_start * 8 // greatest(total, 1) AS shard, seq_id,
         |  seq_tokens, tok_start, md5(token_ids) AS ids_md5
         |FROM pos""".stripMargin,
    "q51_gopher_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len($duckToks) AS n_words,
         |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g')) AS n_nonspace,
         |    len(list_intersect(list_distinct($duckToks),
         |        ['the', 'a', 'and', 'of', 'to'])) AS stop_hits
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n_words, stop_hits,
         |    CASE WHEN n_words = 0 THEN 0.0
         |         ELSE CAST(n_nonspace AS DOUBLE) / n_words END AS mwl
         |  FROM t)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  floor(mwl * 1000000 + 0.50001) / 1000000 AS mean_word_len,
         |  CAST(stop_hits AS BIGINT) AS stop_hits
         |FROM s
         |WHERE n_words BETWEEN 20 AND 90
         |  AND mwl BETWEEN 3.0 AND 4.6 AND stop_hits >= 1""".stripMargin,
    "q52_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS b
         |       FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
         |       WHERE len(tk) >= 2),
         |c AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(max(n) AS BIGINT) AS top_bigram_n,
         |  CAST(sum(n) AS BIGINT) AS n_bigrams,
         |  floor(max(n) * 1.0 / sum(n) * 1000000 + 0.50001) / 1000000 AS dup_bigram_frac
         |FROM c GROUP BY doc_id""".stripMargin,
    "q53_pack_greedy" ->
      // MATERIALIZED: the recursive term joins `sized` once per row of
      // the longest language run (~20k iterations at sf1); without it
      // DuckDB re-tokenizes all 50k documents every iteration (>600 s;
      // 86 s with — the q59 lesson applied to the packing replay)
      s"""WITH RECURSIVE sized AS MATERIALIZED (
         |  SELECT doc_id, lang, coalesce(CAST(len($duckToks) AS BIGINT), 0) AS n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |rec AS (
         |  SELECT doc_id, lang, n_tokens, rn,
         |    CAST(0 AS BIGINT) AS bin, n_tokens AS used
         |  FROM sized WHERE rn = 1
         |  UNION ALL
         |  SELECT s.doc_id, s.lang, s.n_tokens, s.rn,
         |    CASE WHEN r.used + s.n_tokens > 256 THEN r.bin + 1 ELSE r.bin END,
         |    CASE WHEN r.used + s.n_tokens > 256 THEN s.n_tokens
         |         ELSE r.used + s.n_tokens END
         |  FROM sized s JOIN rec r ON s.lang = r.lang AND s.rn = r.rn + 1)
         |SELECT doc_id, lang, n_tokens, bin FROM rec""".stripMargin,
    "q54_group_cap" ->
      """SELECT doc_id, lang, n_chars, rk FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents) t
        |WHERE rk <= 25""".stripMargin,
    "q55_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@example.com or call 555-'
        |           || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |    ELSE text END AS a
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(a,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(a, '[0-9]{3}-[0-9]{2,}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(a,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{2,}', '<PHONE>', 'g')) AS red_md5
        |FROM aug""".stripMargin,
    "q56_contamination" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest($duckShingles5) AS s
         |       FROM toks WHERE len(tk) >= 5),
         |bs AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0)
         |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
         |FROM sh p JOIN bs USING (s)
         |WHERE p.doc_id % 25 <> 0
         |GROUP BY p.doc_id""".stripMargin,
    "q57_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    ln(CAST(CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0) / n_chars AS pri
        |  FROM documents) t
        |ORDER BY pri DESC, doc_id ASC LIMIT 50""".stripMargin,
    // q58/q59: the r10 all-pairs spelling replayed the 50k-doc corpus
    // as 1.25B list_intersect calls (>600 s at sf1). Equivalent
    // inverted-index spelling: explode the (already distinct) shingle
    // lists and count shared shingles per pair with a self-join on the
    // shingle — |a ∩ b| = the group count, so the Jaccard is identical
    // and pairs sharing no shingle (J = 0 < 0.5) never surface. Cost is
    // sum(df²) over 5-word shingles — measured 2.8M at sf1 (max df 5),
    // so the replay is ~5 s instead of hours.
    "q58_simjoin_exact" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, $duckShingles5 AS s
         |       FROM toks WHERE len(tk) >= 5),
         |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         |iv AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
         |       FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |ln AS (SELECT doc_id, len(s) AS n FROM sh),
         |pairs AS (
         |  SELECT a_id, b_id, ni * 1.0 / (la.n + lb.n - ni) AS j
         |  FROM iv JOIN ln la ON la.doc_id = iv.a_id
         |          JOIN ln lb ON lb.doc_id = iv.b_id)
         |SELECT a_id, b_id,
         |  floor(j * 1000000 + 0.50001) / 1000000 AS jaccard
         |FROM pairs WHERE j >= 0.5""".stripMargin,
    "q59_dedup_survivors" ->
      // MATERIALIZED: without it DuckDB re-derives the brute-force edge
      // list inside every recursion step (hours at sf0.1; seconds with)
      s"""WITH RECURSIVE toks AS MATERIALIZED (SELECT doc_id, $duckToks AS tk FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, $duckShingles5 AS s
         |       FROM toks WHERE len(tk) >= 5),
         |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
         |iv AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS ni
         |       FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |ln AS (SELECT doc_id, len(s) AS n FROM sh),
         |e AS MATERIALIZED (
         |  SELECT src, dst
         |  FROM iv JOIN ln la ON la.doc_id = iv.src
         |          JOIN ln lb ON lb.doc_id = iv.dst
         |  WHERE ni * 1.0 / (la.n + lb.n - ni) >= 0.5),
         |sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM sym
         |  UNION
         |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin,
    "q60_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |unir AS (SELECT unnest(tk) AS w FROM toks),
         |uni AS (SELECT w AS w1, count(*) AS cu FROM unir GROUP BY w),
         |v AS (SELECT count(*) AS vocab FROM uni),
         |bgr AS (SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i + 1] AS bg
         |        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
         |        WHERE len(tk) >= 2),
         |bi AS (SELECT bg, count(*) AS cb FROM bgr GROUP BY bg)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  floor(avg(ln((bi.cb + 1) * 1.0 / (uni.cu + v.vocab))) * 1000000
         |        + 0.50001) / 1000000 AS lm_logprob
         |FROM bgr JOIN bi USING (bg) JOIN uni USING (w1), v
         |GROUP BY doc_id""".stripMargin,
    // Kneser-Ney replay: identical type-table statistics (context totals,
    // right-diversity, left-continuation, singleton/doubleton discount),
    // the identical 1e-6-quantized per-TYPE log-prob, integer sums from
    // there on — grouped by bigram STRING where Spark groups by xxhash64
    // (counts, not token identities, reach the output; collisions ~2e-9).
    // Shared CTE builder with q140 (the factored-prefix rule): with the
    // model trained on the full corpus every scored bigram is seen, so
    // the CASE collapses to its first branch — value-identical to an
    // inner-join spelling.
    "q138_kn_lm_score" ->
      s"""WITH ${knScoreCtes(modelWhere = "TRUE")}
         |SELECT doc_id, n_bigrams, kn_fp,
         |  floor(CAST(kn_fp AS DOUBLE) / n_bigrams + 0.50001) / 1000000
         |    AS kn_logprob_mean
         |FROM perdoc""".stripMargin,
    // CCNet replay: the q138 CTEs with the model restricted to the
    // target slice (LEFT joins + OOV cases live in the shared builder),
    // then the identical global rank (mean DESC, doc_id) and integer
    // 30/40/30 bucket cuts
    "q140_ccnet_lm_filter" ->
      s"""WITH ${knScoreCtes(modelWhere = "dd.lang = 'en'")},
         |scored AS (SELECT doc_id, n_bigrams, kn_fp,
         |    CAST(kn_fp AS DOUBLE) / n_bigrams AS m FROM perdoc),
         |tot2 AS (SELECT count(*) AS nn FROM scored),
         |rk AS (SELECT doc_id, n_bigrams, kn_fp,
         |    row_number() OVER (ORDER BY m DESC, doc_id ASC) - 1 AS rn
         |  FROM scored)
         |SELECT doc_id, n_bigrams, kn_fp, CAST(rn AS BIGINT) AS rn,
         |  CASE WHEN rn < (nn * 3) // 10 THEN 'head'
         |       WHEN rn >= nn - (nn * 3) // 10 THEN 'tail'
         |       ELSE 'middle' END AS bucket
         |FROM rk, tot2""".stripMargin,
    "q61_balance_groups" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS mn FROM c)
        |SELECT doc_id, lang FROM documents
        |JOIN c USING (lang), m
        |WHERE CAST(CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0
        |      <= m.mn * 1.0 / c.n""".stripMargin,
    "q62_chunk_windows" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, tk, i FROM toks,
         |    unnest(generate_series(1, len(tk), 30)) AS g(i)
         |  WHERE len(tk) > 0 AND (i = 1 OR i + 9 < len(tk)))
         |SELECT doc_id,
         |  CAST((i - 1) // 30 AS BIGINT) AS chunk_idx,
         |  CAST(len(tk[i : i + 39]) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(tk[i : i + 39], ' ')) AS chunk_md5
         |FROM st""".stripMargin,
    "q63_mix_to_target" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents
        |  WHERE lang IN ('en', 'zh', 'de') GROUP BY lang),
        |t AS (SELECT * FROM (VALUES
        |  ('en', CAST(0.5 AS DOUBLE)),
        |  ('zh', CAST(0.25 AS DOUBLE)),
        |  ('de', CAST(0.25 AS DOUBLE))) AS t(lang, w)),
        |j AS (SELECT c.lang, c.n, t.w FROM c JOIN t USING (lang)),
        |m AS (SELECT min(n / w) AS nstar FROM j),
        |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE), m.nstar * w / n) AS rate
        |      FROM j, m)
        |SELECT doc_id, lang FROM documents JOIN r USING (lang)
        |WHERE CAST(CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 <= r.rate""".stripMargin,
    // DSIR replay: same hashed uni+bigram histogram, the identical
    // 1e-6-quantized per-bucket log ratio (integer sums from there on),
    // and the identical md5-derived Gumbel — so the top-100 is
    // bit-comparable despite the float model underneath
    "q135_dsir_select" ->
      s"""WITH toks AS (SELECT doc_id, lang, $duckToks AS tk FROM documents),
         |feats AS (
         |  SELECT doc_id, lang,
         |    unnest(tk || [array_to_string(tk[i:i+1], ' ')
         |                  for i in generate_series(1, len(tk) - 1)]) AS f
         |  FROM toks),
         |bk AS (SELECT doc_id, lang,
         |    CAST(CONCAT('0x', substring(md5(f), 1, 7)) AS BIGINT) % 1024 AS b
         |  FROM feats),
         |hist AS (SELECT b,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
         |    count(*) AS rc
         |  FROM bk GROUP BY 1),
         |tot AS (SELECT sum(tc) AS tt, sum(rc) AS rr FROM hist),
         |qlr AS (SELECT b,
         |    CAST(floor((ln((tc + 1.0) / (tt + 1024.0))
         |              - ln((rc + 1.0) / (rr + 1024.0)))
         |         * 1000000 + 0.50001) AS BIGINT) AS q
         |  FROM hist CROSS JOIN tot),
         |sc AS (SELECT bk.doc_id, sum(q) AS logratio_fp
         |       FROM bk JOIN qlr USING (b) GROUP BY 1),
         |gum AS (SELECT doc_id,
         |    CAST(floor(-ln(-ln(least(
         |      CAST(CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |          AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0,
         |      0.999999999999999))) * 1000000 + 0.50001) AS BIGINT) AS g
         |  FROM documents)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.logratio_fp, 0) AS BIGINT) AS logratio_fp,
         |  CAST(coalesce(sc.logratio_fp, 0) + gum.g AS BIGINT) AS sel_fp
         |FROM documents d
         |LEFT JOIN sc ON d.doc_id = sc.doc_id
         |JOIN gum ON d.doc_id = gum.doc_id
         |ORDER BY sel_fp DESC, d.doc_id ASC LIMIT 100""".stripMargin,
    // exclusive prefix sum over the doc_id total order — the oracle can
    // afford the single-threaded window the Spark side must not use
    "q136_pack_offsets" ->
      s"""WITH sized AS (
         |  SELECT doc_id, coalesce(CAST(len($duckToks) AS BIGINT), 0) AS n_tokens
         |  FROM documents),
         |pre AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM sized)
         |SELECT doc_id, n_tokens, CAST(tok_start AS BIGINT) AS tok_start,
         |  CAST(tok_start // 512 AS BIGINT) AS seq_first,
         |  CAST(CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
         |       ELSE tok_start // 512 END AS BIGINT) AS seq_last,
         |  CAST(CASE WHEN n_tokens > 0
         |       THEN (tok_start + n_tokens - 1) // 512 - tok_start // 512 + 1
         |       ELSE 0 END AS BIGINT) AS n_seqs
         |FROM pre""".stripMargin,
    "q137_pack_manifest" ->
      s"""WITH sized AS (
         |  SELECT doc_id, coalesce(CAST(len($duckToks) AS BIGINT), 0) AS n_tokens
         |  FROM documents),
         |pre AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_start
         |  FROM sized),
         |spans AS (
         |  SELECT doc_id, n_tokens, tok_start,
         |    unnest(generate_series(tok_start // 512,
         |                           (tok_start + n_tokens - 1) // 512)) AS seq_id
         |  FROM pre WHERE n_tokens > 0)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(least((seq_id + 1) * 512, tok_start + n_tokens)
         |         - greatest(seq_id * 512, tok_start)) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM spans GROUP BY 1""".stripMargin
  )
}
