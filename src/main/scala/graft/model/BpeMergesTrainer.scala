package graft.model

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-shot trainer for the [[BpeMerges]] fixture. Run manually when
  * the tokenizer shape changes:
  *
  * {{{ sbt "runMain graft.model.BpeMergesTrainer" }}}
  *
  * Trains [[graft.operators.Bpe.trainInMemory]] on the UNION of the
  * sf0.01 documents word-frequency table (so the sf corpora keep full
  * merge coverage) and [[syntheticVocab]] — a deterministic
  * mixed-alphabet vocabulary sized to sustain a production-shaped merge
  * count (`SPARK_GRAFT_BPE_MERGES`, default 8000; the r12 fixture's 96
  * [a-z]-corpus merges gave a ~100-token id space, far below the
  * advertised tens-of-thousands-of-rules shape).
  * minFreq 2, ties on (l, r) code-point order — fully deterministic, no
  * seed dependence beyond the fixed generator constants. Writes
  * `/graft/bpe_merges.csv` (one `l,r` line per merge, training order).
  * CSV tokens are written raw: the corpus alphabet is
  * [0-9A-Za-zßéöü] (plus the `</w>` marker), so no line can contain a
  * comma, quote, whitespace, or `#` (the DuckDB oracle's separator) —
  * the writer asserts that instead of escaping.
  */
object BpeMergesTrainer {

  /** Deterministic mixed-alphabet word-frequency table: ~2,300 stems ×
    * 11 suffixes ≈ 25k distinct words under a Zipf-ish frequency law.
    * Morphology mirrors what a real corpus feeds a tokenizer —
    * lowercase stems, sentence-case and CamelCase variants,
    * digit-bearing identifiers, BMP accents — so merges form across
    * case boundaries, digit runs, and shared suffixes, not just [a-z]
    * bigrams. Pure function of the fixed seed: re-running the trainer
    * reproduces the fixture bit-for-bit.
    */
  def syntheticVocab(spark: SparkSession): DataFrame = {
    val rng = new scala.util.Random(42)
    val letters = 'a' to 'z'
    def stem(): String = {
      val len = 3 + rng.nextInt(5)
      val s = new StringBuilder
      (0 until len).foreach(_ => s += letters(rng.nextInt(26)))
      s.toString
    }
    val lower = Vector.fill(1600)(stem())
    val capital = Vector.fill(260)(stem().capitalize)
    val camel = Vector.fill(260)(stem().capitalize + stem().capitalize)
    val digitId = Vector.fill(120)(stem() + (rng.nextInt(900) + 10))
    val accented = Vector.fill(60) {
      stem().replaceFirst("e", "é").replaceFirst("o", "ö")
        .replaceFirst("u", "ü").replaceFirst("ss", "ß")
    }
    val stems = lower ++ capital ++ camel ++ digitId ++ accented
    val suffixes =
      Vector("", "s", "ed", "ing", "er", "tion", "ment", "ly", "42", "Id", "ße")
    val words = for {
      (st, i) <- stems.zipWithIndex
      (suf, j) <- suffixes.zipWithIndex
    } yield {
      // Zipf-ish: early stems and bare/plural forms dominate, every
      // word keeps freq >= 2 so no pair starves below minFreq
      val rank = 1L + i.toLong * suffixes.size + j
      (st + suf, math.max(2L, 200000L / rank))
    }
    import spark.implicits._
    words.toDF("w", "freq")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession
      .builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val resDir = java.nio.file.Paths.get(
      args.headOption.getOrElse("src/main/resources/graft"))
    require(!resDir.toString.contains("testdata"),
      s"arg is the fixture OUTPUT dir, not a corpus: $resDir")
    java.nio.file.Files.createDirectories(resDir)

    val numMerges = sys.env.get("SPARK_GRAFT_BPE_MERGES")
      .flatMap(_.toIntOption).getOrElse(8000)
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val vocab = graft.operators.Bpe.wordFreq(docs, "text")
      .unionByName(syntheticVocab(spark))
      .groupBy("w").agg(org.apache.spark.sql.functions.sum("freq").as("freq"))
    // the word-frequency table is dictionary-sized (Zipf) — collect it
    // once (bounded by construction) and train in memory
    import spark.implicits._
    val words = vocab.as[(String, Long)].collect().toSeq
    System.err.println(s"[bpe-trainer] vocabulary: ${words.size} distinct words")
    val t0 = System.nanoTime()
    val merges = graft.operators.Bpe.trainInMemory(words, numMerges, minFreq = 2L)
    System.err.println(f"[bpe-trainer] trained ${merges.size} merges in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    merges.foreach { case (l, r) =>
      require(!l.contains(",") && !r.contains(",") &&
        !l.contains("#") && !r.contains("#") &&
        !l.contains("'") && !r.contains("'") &&
        !l.exists(_.isWhitespace) && !r.exists(_.isWhitespace),
        s"token needs escaping the fixture format does not have: ($l, $r)")
    }
    val out = resDir.resolve("bpe_merges.csv")
    java.nio.file.Files.write(out,
      merges.map { case (l, r) => s"$l,$r" }.mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    println(s"[bpe-trainer] wrote ${merges.size} merges to $out")
    println(s"[bpe-trainer] first 10: ${merges.take(10).mkString(" ")}")
    spark.stop()
  }
}
