package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistics for training-data pipelines: TF-IDF term
  * weighting and split-distribution drift. Relational throughout — token
  * explode, two hash aggregations, a broadcastable term-dictionary join —
  * so every step is a plain shuffle on a bounded key space (the
  * vocabulary), never a pair space.
  *
  * Exact-match discipline (Q.scala): the only irrational step, `ln` in the
  * IDF, is rounded to 6 decimals the moment it is computed; every
  * downstream product/sum runs in exact DECIMAL and is cast to double once
  * at the end, so parallel partial aggregation cannot perturb the result.
  */
object Corpus {

  /** Per-document boilerplate ratio — the C4-style common-span removal
    * signal at n-gram granularity: a shingle occurring in ≥ `minDf`
    * documents is "boilerplate" (templates, navigation chrome, license
    * headers — content that repeats ACROSS documents), and each document
    * reports the fraction of its distinct shingles that are boilerplate.
    * Distinct from t15 (repetition WITHIN a document) and t16
    * (contamination vs a specific held-out set).
    *
    * 100 TB shape: shingle explode → df count (shuffle on the shingle
    * key) → left-semi probe of the boilerplate set (second shuffle on
    * the same key, co-partitioned) → per-doc counts (shuffle on id).
    * No pair space anywhere; the boilerplate dictionary is df-bounded
    * and never collected. */
  def boilerplateRatio(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long): DataFrame = {
    val sh = graft.dedup.Dedup.wordShingles(docs, idCol, textCol, n)
    val common = sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("shingle")
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val hits = sh.join(common, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_boiler"))
    sizes.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 6).as("boilerplate_ratio"))
  }

  /** Per-document character-distribution Shannon entropy — the
    * low-entropy quality filter (Gopher/RefinedWeb-style: repeated-
    * character and template junk scores near 0, natural text 3.5–4.5
    * bits-of-e). Exact-match discipline for the irrational terms: each
    * p·ln(p) is rounded to 9 decimals AT THE TERM and summed in exact
    * DECIMAL, so the total is independent of aggregation order (the
    * only way a float Σ over an unordered group can hash-match across
    * engines — same convention as the IDF rounding above).
    *
    * Scale note: the per-character explode multiplies rows ×doc-length;
    * at corpus scale the fused one-pass counting expression (the
    * graft_shingle_stats pattern) is the upgrade path — the relational
    * form here is the oracle-checkable reference. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .groupBy(idCol, "ch").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(idCol).agg(sum("c").as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts.join(totals, idCol :: Nil)
      .groupBy(idCol, "n")
      .agg(count(lit(1)).as("n_distinct_chars"),
        sum(round(p * log(p), 9).cast("decimal(28,9)")).as("__s"))
      .select(col(idCol), col("n").as("n_chars"), col("n_distinct_chars"),
        round(-col("__s").cast("double"), 6).as("entropy"))
  }

  /** [[charEntropy]]'s fused scale path: the one-pass codegen'd
    * `graft_char_entropy` expression — no per-character row explosion,
    * whole-stage codegen intact. Bit-exactly equal to the relational
    * form (CorpusSpec pins it; the t27 hash gate proves it against
    * DuckDB). Rows with empty/NULL text are filtered to match the
    * relational form's emit-no-row behavior. */
  def charEntropyFused(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.GraftExtensions.setup(docs.sparkSession)
    docs.select(col(idCol),
        call_function("graft_char_entropy", col(textCol)).as("__e"))
      .select(col(idCol), col("__e.n_chars").as("n_chars"),
        col("__e.n_distinct_chars").as("n_distinct_chars"),
        col("__e.entropy").as("entropy"))
      .filter(col("n_chars") > 0)
  }

  /** BM25 keyword retrieval: top-`k` documents for a bag of query terms
    * (Robertson–Sparck Jones idf in the Lucene `+1` form, k1/b the
    * classic 1.2/0.75). The probe is inverted-index-shaped: the token
    * explode filters to the QUERY terms before any aggregation, so
    * nothing vocabulary-wide is materialized — df, idf, and the global
    * avgdl statistic are all term-count- or scalar-sized broadcasts, and
    * the only data-sized shuffles are the per-(doc, term) tf aggregation
    * and the doc-length join. Top-k is orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort).
    *
    * Exact-match discipline: per-term score components are fixed
    * double-expression trees (deterministic IEEE in both engines, the
    * sqlCosine precedent) rounded to 6 decimals, then summed per
    * document in exact DECIMAL so partial aggregation order cannot
    * perturb the total; ordering ties break on doc id. */
  def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val lens = docs.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("dl"))
    val stats = lens.agg(sum(col("dl")).as("total"), count(lit(1)).as("n"))
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n").cast("double") - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5) + 1.0), 6).as("idf"))
    val comp = tf.join(broadcast(idf), "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total").cast("double") / col("n").cast("double"))
      .withColumn("comp", round(
        col("idf") * (col("tf").cast("double") * 2.2)
          / (col("tf").cast("double")
             + lit(1.2) * (lit(1.0) - lit(0.75)
               + lit(0.75) * (col("dl").cast("double") / col("avgdl")))),
        6))
    comp.groupBy(col(idCol))
      .agg(sum(col("comp").cast("decimal(18,6)")).as("__score_dec"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("__score_dec").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("__score_dec").cast("double").as("bm25"),
        col("n_terms_hit"))
  }

  /** MATERIALIZED inverted index for [[bm25TopDocs]]'s math — the
    * Lucene-shaped serving architecture: index once, probe many. The
    * postings table is one row per (term, doc) carrying tf AND the
    * document length DENORMALIZED (a probe must never join a doc-sized
    * side table), written hive-partitioned by the term's first character
    * so a query's terms prune to their partitions before any scan; the
    * corpus statistics (N, total length) are a one-row sidecar. At
    * 100 TB this is the layout a search tier serves from: the per-query
    * cost is the matching postings partitions, not the corpus. */
  def writePostingsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val lens = docs.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("dl"))
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    tf.join(lens, idCol)
      .withColumn("tb", substring(col("term"), 1, 1))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings")
    lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Serve a BM25 top-k query from the materialized index: plan ONLY the
    * postings partitions whose first-character bucket matches a query
    * term (directory-level pruning, the s17 contract shape), filter to
    * the exact terms, and compute the identical score tree —
    * df comes from the probe itself (rows per term IS the document
    * frequency), avgdl/N from the one-row stats sidecar, dl rides the
    * posting row. Returns (topK, partitionsRead, partitionsTotal). */
  def bm25ServeFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, terms: Seq[String], k: Int)
      : (DataFrame, Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
      .map(_.getPath).toSeq
    val letters = terms.map(_.substring(0, 1)).toSet
    val planned = dirs.filter(p =>
      letters.contains(p.getName.stripPrefix("tb=")))
    val statsRow = spark.read.parquet(s"$path/stats").head()
    val (n, total) = (statsRow.getLong(0), statsRow.getLong(1))
    val avgdl = total.toDouble / n.toDouble
    if (planned.isEmpty)
      return (spark.read.parquet(dirs.head.toString)
        .select(col(idCol), lit(0.0).as("bm25"), lit(0L).as("n_terms_hit"))
        .filter(lit(false)), 0, dirs.size)
    val probe = spark.read.parquet(planned.map(_.toString): _*)
      .filter(col("term").isin(terms: _*))
    val idf = probe.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"),
        round(log((lit(n.toDouble) - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5) + 1.0), 6).as("idf"))
    val scored = probe.join(broadcast(idf), "term")
      .withColumn("comp", round(
        col("idf") * (col("tf").cast("double") * 2.2)
          / (col("tf").cast("double")
             + lit(1.2) * (lit(1.0) - lit(0.75)
               + lit(0.75) * (col("dl").cast("double") / lit(avgdl)))),
        6))
      .groupBy(col(idCol))
      .agg(sum(col("comp").cast("decimal(18,6)")).as("__score_dec"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("__score_dec").desc, col(idCol))
      .limit(k)
      .select(col(idCol),
        col("__score_dec").cast("double").as("bm25"), col("n_terms_hit"))
    (scored, planned.size, dirs.size)
  }

  /** Term frequencies per (carried columns, id, term): one row per distinct
    * term occurrence count. `carry` columns must be functionally dependent
    * on the id (e.g. the document's language). */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val cols = (carry :+ idCol).map(col)
    docs.select(cols :+ explode(TextFunctions.tokens(col(textCol))).as("term"): _*)
      .groupBy(cols :+ col("term"): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** Smoothed IDF (sklearn formulation): ln((N+1)/(df+1)) + 1, rounded to
    * 6 decimals for engine portability (a 1-ulp `ln` disagreement between
    * runtimes cannot survive the rounding except exactly on a .5e-6
    * boundary). */
  def smoothedIdf(df: Column, nDocs: Column): Column =
    round(log((nDocs.cast("double") + 1.0) / (df.cast("double") + 1.0)) + 1.0, 6)

  /** Top-`k` terms per `groupCol` by summed TF-IDF:
    * (group, term_rank, term, tfidf, df). Document frequency is
    * corpus-wide; the score sums tf·idf over the group's documents in
    * exact decimal. Ties break on term order so the ranking is total.
    *
    * Scale shape: tf agg shuffles on (group, id, term); the df/idf
    * dictionary is one agg over terms and joins back on the term key; the
    * final top-k window partitions by group (many small partitions — no
    * global sort). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol, carry = Seq(groupCol))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n_docs"))
    val idf = dfT.crossJoin(broadcast(n))
      .select(col("term"), col("df"),
        smoothedIdf(col("df"), col("__n_docs")).as("idf"))
    val scored = tf.join(idf, "term")
      .groupBy(col(groupCol), col("term"))
      .agg(max(col("df")).as("df"),
        sum(col("tf") * col("idf").cast("decimal(18,6)")).as("__score_dec"))
    val w = Window.partitionBy(groupCol).orderBy(col("__score_dec").desc, col("term"))
    scored.withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
      .select(col(groupCol), col("term_rank"), col("term"),
        col("__score_dec").cast("double").as("tfidf"), col("df"))
  }

  /** Distribution drift of every non-`trainLabel` split against the
    * training vocabulary: per split, total token occurrences, distinct
    * terms, out-of-vocabulary terms/occurrences and their rates. The OOV
    * rate is the first-order "did my split leak a different distribution"
    * check a pipeline runs right after splitting — a val/test OOV spike
    * means the split is not exchangeable with train (time skew, source
    * skew, language skew).
    *
    * All outputs are exact integer ratios with a single final double
    * division — no float accumulation anywhere. */
  def splitDrift(docs: DataFrame, textCol: String, splitCol: Column,
      trainLabel: String = "train"): DataFrame = {
    val tok = docs.select(splitCol.as("split"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val trainVocab = tok.filter(col("split") === trainLabel)
      .select("term").distinct().withColumn("__in_train", lit(1))
    tok.filter(col("split") =!= trainLabel)
      .join(trainVocab, Seq("term"), "left")
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("term")).as("n_terms"),
        countDistinct(when(col("__in_train").isNull, col("term"))).as("n_oov_terms"),
        sum(when(col("__in_train").isNull, 1L).otherwise(0L)).as("n_oov_tokens"))
      .withColumn("oov_term_rate",
        round(col("n_oov_terms").cast("double") / col("n_terms").cast("double"), 6))
      .withColumn("oov_token_rate",
        round(col("n_oov_tokens").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** BPE vocabulary induction's distributed primitive (Sennrich et al.
    * 2016 §3.2, public method): frequency-weighted counts of ADJACENT
    * symbol pairs over the word-frequency table — the statistic the
    * tokenizer-training merge loop recomputes every iteration (here the
    * first iteration: symbols = characters, so a pair is a 2-char
    * substring). The top-k rows are the next k greedy merge candidates.
    *
    * Scale shape: the corpus collapses to its word-frequency table FIRST
    * (the classic word-count shuffle, map-side combined,
    * vocabulary-bounded output); the pair explode then runs over
    * DISTINCT WORDS weighted by freq — ≤ |vocab|·avg-word-length rows,
    * independent of corpus size — and the pair aggregation is bounded by
    * the observed symbol-pair space. Top-k is TakeOrderedAndProject with
    * a total order (count desc, pair asc), so the boundary cut is
    * deterministic in any engine; all counts are exact BIGINT.
    */
  def bpeMergeCandidates(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val wf = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2) // 1-char words contribute no pairs
      .groupBy("w").agg(count(lit(1)).as("freq"))
    wf.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** The BPE merge LOOP (Sennrich et al. 2016 algorithm 1, public
    * method): fold the winning merge back into the vocabulary and
    * re-pair, `iterations` times. Each iteration (a) counts
    * frequency-weighted adjacent symbol pairs over the current
    * segmentation, (b) picks THE top pair under the total order
    * (n desc, a asc, b asc), (c) merges its adjacent occurrences
    * left-to-right non-overlapping. Returns one row per iteration —
    * (iter, a, b, merged, n) — the k-merge vocabulary in training order.
    *
    * Segmentations are symbols joined by single spaces with one space of
    * padding (`" a b c "`), so a merge is a LITERAL string replace of
    * `" a b "` with `" ab "` — `replace` scans left to right and resumes
    * after each replacement, which is exactly BPE's non-overlapping rule
    * (`" a a a "` → `" aa a "`), and the space padding makes symbol
    * boundaries unambiguous (symbols never contain whitespace: words are
    * \s+-split tokens). The same literal-replace semantics exist in
    * DuckDB, so the whole loop is oracle-replayable as one CTE chain per
    * iteration — no regex, no engine-specific fold.
    *
    * Scale shape: everything after the word-frequency collapse is
    * vocabulary-bounded (the [[bpeMergeCandidates]] argument); the loop
    * adds k sequential vocab-scale jobs. Each iteration's table is
    * eagerly localCheckpoint'd — the segmentation frame feeds both the
    * pair count and the next merge, and k chained two-consumer stages
    * would otherwise render an exponential plan (the t33 lineage
    * lesson). `best` is a 1-row broadcast — the merge is applied
    * distributively, never by driver string surgery. */
  def bpeMerges(docs: DataFrame, textCol: String, iterations: Int): DataFrame =
    bpeTrain(docs, textCol, iterations)._1
      .map(b => b.select(col("iter"), col("a"), col("b"),
        concat(col("a"), col("b")).as("merged"), col("n")))
      .reduce(_.unionAll(_))
      .orderBy("iter")

  /** The trained segmenter APPLIED: every distinct word with its symbol
    * count after the k learned merges — the vocabulary-bounded lookup
    * table a tokenizer pass broadcasts against the corpus
    * ([[bpeMerges]]'s loop, keeping the word key). Words the training
    * table excludes (length < 2) tokenize to their character count. */
  def bpeSegment(docs: DataFrame, textCol: String,
      iterations: Int): DataFrame = {
    val words = bpeTrain(docs, textCol, iterations)._2
    words.select(col("w"),
      size(split(trim(col("seg")), " ")).cast("long").as("n_sym"))
  }

  /** Shared BPE training loop: per-iteration best-merge frames plus the
    * final segmented word table (w, seg, freq). */
  private def bpeTrain(docs: DataFrame, textCol: String,
      iterations: Int): (Seq[DataFrame], DataFrame) = {
    require(iterations >= 1 && iterations <= 64, s"iterations: $iterations")
    var wf = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"),
        concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1))), " "),
          lit(" ")).as("seg"),
        col("freq"))
      .localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    for (it <- 1 to iterations) {
      val syms = split(trim(col("seg")), " ")
      val pairs = wf
        .select(col("freq"), explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("n"))
      val best = pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .select(lit(it.toLong).as("iter"), col("a"), col("b"), col("n"))
        .localCheckpoint()
      merges += best
      wf = wf
        .crossJoin(broadcast(
          best.select(col("a").as("__a"), col("b").as("__b"))))
        .select(col("w"),
          replace(col("seg"),
            concat(lit(" "), col("__a"), lit(" "), col("__b"), lit(" ")),
            concat(lit(" "), col("__a"), col("__b"), lit(" "))).as("seg"),
          col("freq"))
        .localCheckpoint()
    }
    (merges.result(), wf)
  }
}
