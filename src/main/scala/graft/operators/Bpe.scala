package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016), the way it
  * actually scales: training runs on the WORD-FREQUENCY table, not the
  * corpus. Zipf's law makes that table vocabulary-sized — a 100 TB
  * corpus compresses to a few million (word, freq) rows in one
  * combinable aggregation ([[wordFreq]]), which [[trainInMemory]]
  * collects once and trains incrementally. Encoding under a frozen
  * merge table segments each DISTINCT word once ([[segmentWordFast]])
  * and joins the dictionary back to the corpus ([[encode]]).
  *
  * Matches the reference algorithm exactly: merges apply left-to-right,
  * non-overlapping (after `a b → ab` in `a b b`, the remaining `b` does
  * NOT re-pair with the new `ab`s tail within the same pass), ties on
  * pair count break by (left, right) lexicographic order, and words carry
  * a `</w>` end marker so prefixes and whole words stay distinct tokens.
  */
object Bpe {

  /** Byte-fallback base decomposition of ONE code point (r13 verdict #4,
    * the GPT-2/SentencePiece `byte_fallback` convention): a character in
    * the frozen base alphabet is its own symbol; anything else
    * decomposes into its UTF-8 bytes, one `<0xNN>` token each
    * (uppercase hex — the `hex()` rendering of both engines). With the
    * 256 byte tokens in the id vocabulary the tokenizer has NO
    * out-of-vocabulary input and [[decode]]∘[[encode]] is lossless on
    * ANY text, supplementary planes included: the unit is the CODE
    * POINT, never a UTF-16 unit, so an emoji decomposes into its 4
    * UTF-8 byte tokens — exactly what the DuckDB oracle emits.
    * Iterating Chars here instead would hand each surrogate half
    * to `getBytes` alone, which encodes it as `?` (0x3F) — silent
    * corruption with n_oov = 0 (the r14 ADVICE find).
    */
  private[operators] def charSyms(cp: Int): Seq[String] = {
    val s = new String(Character.toChars(cp))
    if (cp <= Char.MaxValue && graft.model.BpeMerges.alphabetSet(cp.toChar))
      Seq(s)
    else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(b => graft.model.BpeMerges.byteToken(b & 0xff))
  }

  /** [[charSyms]] over a whole word's CODE POINTS (no end marker). */
  private[operators] def baseSyms(w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out ++= charSyms(cp)
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Word-frequency table for a text column: one combinable agg pass. */
  def wordFreq(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))

  /** Code-point lexicographic string order — the order Spark's
    * UTF8String (UTF-8 byte) comparison induces, which the training
    * tie-break uses. Java String's natural order diverges past the BMP
    * (UTF-16 code units sort surrogates low), so spell it explicitly.
    */
  private[operators] val cpOrdering: Ordering[String] =
    new Ordering[String] {
      def compare(x: String, y: String): Int = {
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val cx = x.codePointAt(i)
          val cy = y.codePointAt(i)
          if (cx != cy) return Integer.compare(cx, cy)
          i += Character.charCount(cx)
        }
        Integer.compare(x.length - i, y.length - i)
      }
    }

  /** Dictionary-scale BPE training, in memory, bit-identical to the
    * reference algorithm (property-spec'd against an independent
    * implementation): greedy argmax — pair count desc, ties on (l, r)
    * code-point order — left-to-right non-overlapping merge pass,
    * minFreq stop.
    *
    * Zipf's law says the word-frequency table is dictionary-sized at ANY
    * corpus scale, so the caller collects it once (the same
    * bounded-by-construction pattern as the IVF quantizer sample) and
    * this runs the classic incremental algorithm: a pair→containing-words
    * index plus an ordered candidate set, so each merge touches only the
    * words it changes — O(affected words × word length × log pairs) per
    * rule instead of a full vocabulary pass. 8,000 merges over a
    * 25k-word vocabulary train in seconds; a distributed trainer paying
    * one Spark round-trip per merge measured ~0.6 s per rule, an hour at
    * that table size.
    */
  def trainInMemory(
      words: Seq[(String, Long)],
      numMerges: Int,
      minFreq: Long = 2L): Seq[(String, String)] = {
    type Pair = (String, String)
    val syms = words.map { case (w, _) =>
      scala.collection.mutable.ArrayBuffer.from(
        baseSyms(w) :+ "</w>")
    }.toArray
    val freq = words.map(_._2).toArray
    val pairCount = scala.collection.mutable.HashMap.empty[Pair, Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.BitSet]
    def wordPairs(s: scala.collection.Seq[String]): Iterator[Pair] =
      if (s.length < 2) Iterator.empty
      else (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    // candidate order: count DESC, then (l, r) code-point ASC — the
    // TreeSet head is always the next merge rule
    implicit val pairOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) return c
          val l = cpOrdering.compare(a._2, b._2)
          if (l != 0) l else cpOrdering.compare(a._3, b._3)
        }
      }
    val candidates =
      scala.collection.mutable.TreeSet.empty[(Long, String, String)]
    syms.indices.foreach { wi =>
      wordPairs(syms(wi)).foreach { p =>
        pairCount.updateWith(p) { c => Some(c.getOrElse(0L) + freq(wi)) }
        pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += wi
      }
    }
    pairCount.foreach { case ((l, r), c) => candidates += ((c, l, r)) }

    def applyPairDelta(p: Pair, delta: Long, wi: Int, add: Boolean): Unit = {
      val old = pairCount.getOrElse(p, 0L)
      if (old != 0L) candidates -= ((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) {
        pairCount(p) = nw
        candidates += ((nw, p._1, p._2))
      } else pairCount.remove(p)
      val set = pairWords.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty)
      if (add) set += wi else set -= wi
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[Pair]
    var done = false
    while (merges.length < numMerges && !done) {
      candidates.headOption match {
        case None => done = true
        case Some((cnt, _, _)) if cnt < minFreq => done = true
        case Some((_, a, b)) =>
          merges += ((a, b))
          val affected = pairWords.getOrElse((a, b),
            scala.collection.mutable.BitSet.empty).toArray
          affected.foreach { wi =>
            val s = syms(wi)
            // left-to-right non-overlapping pass (reference semantics)
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += s(i); i += 1 }
            }
            if (out.length != s.length) {
              // exact recount of this word's pair contribution: old
              // multiset out, new multiset in (handles every overlap
              // case the incremental ±1 bookkeeping gets wrong)
              val oldCnts = scala.collection.mutable.HashMap.empty[Pair, Long]
              wordPairs(s).foreach(p =>
                oldCnts.updateWith(p)(c => Some(c.getOrElse(0L) + 1L)))
              val newCnts = scala.collection.mutable.HashMap.empty[Pair, Long]
              wordPairs(out).foreach(p =>
                newCnts.updateWith(p)(c => Some(c.getOrElse(0L) + 1L)))
              (oldCnts.keySet ++ newCnts.keySet).foreach { p =>
                val d = newCnts.getOrElse(p, 0L) - oldCnts.getOrElse(p, 0L)
                val stillThere = newCnts.getOrElse(p, 0L) > 0L
                if (d != 0L) applyPairDelta(p, d * freq(wi), wi, stillThere)
                else if (!stillThere) pairWords.get(p).foreach(_ -= wi)
              }
              // pairs present in both keep wi in their index — only the
              // vanished ones were removed above
              newCnts.keysIterator.foreach(p =>
                pairWords.getOrElseUpdate(p,
                  scala.collection.mutable.BitSet.empty) += wi)
              syms(wi) = out
            }
          }
      }
    }
    merges.toSeq
  }

  /** Sequential-exact single-word segmentation under a frozen merge
    * table, with cost independent of the TABLE size: lazily evaluates
    * the in-order rule pass the reference applies (and the DuckDB
    * oracle replays), skipping rules whose pair cannot be
    * present. A candidate heap holds rule ranks whose pair was observed
    * adjacent in some reached state; ranks pop in ascending order (=
    * training order), each pop re-checks presence (stale candidates
    * no-op) and applies the standard left-to-right non-overlapping
    * pass, then re-scans the (short) word for pairs and enqueues each
    * pair's smallest rank ABOVE the current one — a rule already passed
    * never re-fires, exactly the sequential semantics. Per word:
    * O(applied merges × |word| + candidates log candidates), vs the
    * naive pass's O(all rules × |word|).
    *
    * NOT the HuggingFace min-rank-first loop, deliberately: min-rank-
    * first diverges from in-order application when a later DIFFERENT
    * pair recreates an earlier rule's output string (e.g. rules
    * `1:(a,bc) 2:(abc,d) 3:(ab,c)` over `ab c d` — in-order yields
    * `abc d`, min-rank-first `abcd`); this repo's ground truth (the
    * reference, the oracle) is in-order, so this path must be too.
    * Property-spec'd equal to the per-word reference on random corpora
    * and the frozen fixture.
    *
    * `ranksOf` maps a pair to its SORTED rule ranks (a pair can in
    * principle be re-learned after re-emerging mid-training, so the
    * general form is a list). Non-BMP input is fine: [[baseSyms]]
    * decomposes by code point, matching the DuckDB replay exactly.
    */
  private[operators] def segmentWordFast(
      w: String,
      merges: IndexedSeq[(String, String)],
      ranksOf: Map[(String, String), Array[Int]]): Array[String] = {
    var syms: Array[String] =
      (baseSyms(w) :+ "</w>").toArray
    if (syms.length < 2) return syms
    val pending = new java.util.TreeSet[Integer]()
    def enqueue(minExclusive: Int): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        ranksOf.get((syms(i), syms(i + 1))).foreach { rs =>
          // smallest rank strictly above the rule just applied
          var lo = 0; var hi = rs.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (rs(mid) > minExclusive) hi = mid else lo = mid + 1
          }
          if (lo < rs.length) pending.add(rs(lo))
        }
        i += 1
      }
    }
    enqueue(-1)
    while (!pending.isEmpty) {
      val r = pending.pollFirst().intValue()
      val (a, b) = merges(r)
      val out = Array.newBuilder[String]
      var i = 0
      var changed = false
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2; changed = true
        } else { out += syms(i); i += 1 }
      }
      if (changed) {
        syms = out.result()
        enqueue(r)
      }
    }
    syms
  }

  /** `ranksOf` index for [[segmentWordFast]]: pair → sorted rule ranks. */
  private[operators] def mergeRanks(
      merges: Seq[(String, String)]): Map[(String, String), Array[Int]] =
    merges.zipWithIndex.groupBy(_._1).view
      .mapValues(_.map(_._2).toArray.sorted).toMap

  /** Encode a corpus to BPE token ids under a FROZEN merge table + id
    * vocabulary (e.g. the committed [[graft.model.BpeMerges]] fixture) —
    * the tokenizer-apply stage of a training-data pipeline. Output one
    * row per document: `n_tokens` (total BPE tokens, the number sequence
    * packing actually batches by) and `bpe_ids` (the id stream,
    * space-joined — deterministic, engine-portable). Tokens outside the
    * id vocabulary (e.g. characters the table was never trained over)
    * encode as −1, the documented OOV convention.
    *
    * Scale design — the same Zipf observation that makes
    * [[trainInMemory]] feasible: the corpus is NOT segmented row by
    * row. Distinct words (vocabulary-sized) are segmented once each,
    * then the encoded dictionary joins back to the corpus' exploded
    * word stream and one per-document pass stitches the streams. Plan
    * shape: one exploded corpus pass → distinct (map-side combinable) →
    * vocabulary-sized [[segmentWordFast]] segmentation (per TYPE, not
    * per occurrence) → SHUFFLE_HASH dictionary join (the r11
    * broadcast-OOM lesson: a "small" dictionary grows with vocabulary;
    * shuffle-hash keeps the build per-partition-sized at any corpus) →
    * the per-document assembly as a [[SortedGroupFold.reduceGroups]]
    * streaming fold — NOT a `collect_list` aggregate, whose per-group
    * object buffers are untracked heap and OOM'd the 8 GB bench JVM at
    * the 200k-doc TEXTSCALE point; the fold holds exactly one
    * document's id stream at a time over a spillable sort. The merge
    * table and id map are fixture-sized (the FROZEN tokenizer, not the
    * corpus) and ride one broadcast.
    */
  def encode(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      idOf: Map[String, Int]): DataFrame = {
    val spark = corpus.sparkSession
    val words = Spread.ensure(corpus.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
      .filter(length(col("__w")) > 0)
    // segmentWordFast's cost is independent of the rule count. The
    // all-Catalyst alternative (one `aggregate` fold per rule, a
    // checkpointed dictionary pass per 32 rules) measured 49.3 s per
    // encode vs 0.71 s at sf0.1 under the frozen 8,000-merge fixture.
    // One broadcast, not a per-task closure copy.
    val bc = spark.sparkContext.broadcast(
      (merges.toIndexedSeq, mergeRanks(merges), idOf))
    import spark.implicits._
    val dict = words.select(col("__w")).distinct().as[String]
      .mapPartitions { it =>
        val (m, ranks, ids) = bc.value
        it.map { w =>
          val toks = segmentWordFast(w, m, ranks)
          (w, toks.length.toLong,
            toks.iterator
              .map(t => ids.getOrElse(t, -1).toString).mkString(" "))
        }
      }.toDF("__w", "__n", "__ids")
    val joined = words
      .join(dict.hint("shuffle_hash"), Seq("__w"))
      .select(col(idCol), col("__pos"), col("__n"), col("__ids"))
    val ni = joined.schema.fieldIndex("__n")
    val si = joined.schema.fieldIndex("__ids")
    SortedGroupFold.reduceGroups(
      joined, idCol, Seq("__pos"),
      Seq(
        org.apache.spark.sql.types.StructField(
          "n_tokens", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "bpe_ids", org.apache.spark.sql.types.StringType, nullable = false))) {
      () => new SortedGroupFold.GroupReducer {
        private var n = 0L
        private val sb = new java.lang.StringBuilder
        def start(r: Row): Unit = { n = 0L; sb.setLength(0) }
        def next(r: Row): Unit = {
          n += r.getLong(ni)
          if (sb.length > 0) sb.append(' ')
          sb.append(r.getString(si))
        }
        def finish(): Seq[Any] = Seq(n, sb.toString)
      }
    }
  }

  /** Render one vocabulary token as the UPPERCASE hex of the bytes it
    * contributes to decoded text: `</w>` → a space (0x20), a
    * byte-fallback token `<0xNN>` → its byte, anything else → its UTF-8
    * bytes — scanning left to right so merge outputs that CONTAIN the
    * marker or byte tokens (a trained `ing</w>`, or a future merge over
    * byte tokens) render correctly segment by segment. The `<0xNN>`
    * shape cannot collide with text content: `<`, `>`, `x` inside a
    * token string can only have entered AS byte tokens, because the
    * characters themselves are outside the base alphabet and therefore
    * byte-decomposed by [[charSyms]] on the way in.
    */
  private[operators] def tokenHex(t: String): String = {
    val ew = graft.model.BpeMerges.endWord
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < t.length) {
      if (i + 6 <= t.length && t.startsWith("<0x", i) && t.charAt(i + 5) == '>') {
        sb.append(t.substring(i + 3, i + 5)); i += 6
      } else if (t.startsWith(ew, i)) {
        sb.append("20"); i += ew.length
      } else {
        t.charAt(i).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foreach(b => sb.append(f"${b & 0xff}%02X"))
        i += 1
      }
    }
    sb.toString
  }

  /** Detokenize an [[encode]]d id stream back to text — the inspection /
    * sample-readback stage of a training-data pipeline (and the proof
    * the frozen id table is invertible). Appends `n_oov` (count of −1
    * ids — a stream encoded under a PRE-byte-fallback table could carry
    * them; [[encode]] itself no longer emits any) and `decoded`, the
    * EXACT reconstruction: with the 256 `<0xNN>` byte tokens in the
    * vocabulary, every non-alphabet character round-trips through its
    * UTF-8 bytes, so `decode(encode(text))` equals the
    * whitespace-normalized source text verbatim — no `?` substitution,
    * no character class lost (r13 verdict #4). That is precisely what
    * the DuckDB q147 oracle computes DIRECTLY from the source text
    * (split on spaces, drop empties, re-join), so the check closes the
    * loop over the whole encode→decode path rather than replaying the
    * decode.
    *
    * Mechanics: each id maps to the hex rendering of its token's bytes
    * ([[tokenHex]] — `</w>` is 0x20, byte tokens their byte), the hex
    * strings concatenate per document, and ONE `decode(unhex(…))`
    * materializes the text. Assembling in hex space is what makes byte
    * tokens composable: a multi-byte character's bytes arrive as
    * SEPARATE tokens, and only the final UTF-8 decode may fuse them.
    *
    * Scale design: pure per-row column expressions — the inverted id
    * table (fixture-sized, the frozen tokenizer's vocabulary) compiles
    * into the plan as a literal ARRAY indexed by id, because ids are
    * dense by construction (base block + byte block + one per merge): a
    * positional `element_at` is O(1) per token, where the literal-MAP
    * spelling is a linear scan of the 8k-entry map per probe — measured
    * 75 s vs the encode's own 23 s at the 1M-doc TEXTSCALE point before
    * the respell (5×10¹¹ key comparisons hiding in one innocuous
    * expression). No join, no shuffle, no UDF.
    */
  def decode(
      df: DataFrame,
      idsCol: String,
      idOf: Map[String, Int],
      oovMark: String = "?"): DataFrame = {
    val maxId = idOf.values.max
    val oovHex = oovMark
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X").mkString
    // dense id → hex of the token's byte contribution; ids skipped by
    // first-writer-wins dedup stay at the OOV rendering
    val slots = Array.fill(maxId + 1)(oovHex)
    idOf.foreach { case (t, i) => slots(i) = tokenHex(t) }
    val hexArr = typedlit(slots.toSeq)
    val hexes = transform(
      split(col(idsCol), " "),
      s => {
        val idL = s.cast("long")
        // the when-guard keeps ANSI element_at in bounds; ids outside
        // [0, maxId] (the legacy −1 OOV convention) fall through
        coalesce(
          when(idL.between(0L, maxId.toLong),
            element_at(hexArr, (idL + 1L).cast("int"))),
          lit(oovHex))
      })
    df.withColumn(
        "n_oov",
        size(filter(split(col(idsCol), " "), s => s === lit("-1")))
          .cast("long"))
      .withColumn(
        "decoded",
        rtrim(org.apache.spark.sql.functions.decode(
          unhex(array_join(hexes, "")), "UTF-8")))
  }
}
