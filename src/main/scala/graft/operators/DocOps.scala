package graft.operators

import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document corpus operators: word statistics, keyword/boolean search with
  * snippets, topic bucketing and co-occurrence, vocabulary set ops
  * (SURVEY.md §2.2 F1–F9, §2.4 A14–A17, §2.6 T1, §2.7 U1–U2, §2.8 X2/X8)
  * on the `documents` table (≈ message content corpus).
  */
object DocOps {

  /** Topic keyword lists for the bucket/co-occurrence operators — the
    * reference hard-codes 8 topic keyword lists (`exper_sql.py:2144-2280`);
    * these four cover the synthetic corpus vocabulary.
    */
  val Topics: Seq[(String, Seq[String])] = Seq(
    "joins"     -> Seq("join", "merge", "hash"),
    "scans"     -> Seq("scan", "filter", "column"),
    "streaming" -> Seq("stream", "window", "batch"),
    "sorting"   -> Seq("sort", "order", "key"))

  private def containsAny(text: Column, kws: Seq[String]): Column =
    kws.map(k => text.contains(lit(k))).reduce(_ || _)

  /** Word-frequency top-k (A14, `content_analysis.py:75-102`): tokenize,
    * stopword-filter, count, top 50 — partial aggregation makes the shuffle
    * carry only (word, count) pairs; top-k is TakeOrderedAndProject.
    * Deterministic tie-break on the word itself.
    */
  def wordFrequency(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(k)

  /** Heavy-hitter word frequency via the Misra–Gries typed aggregate
    * ([[graft.functions.TopKWords]]) — the sketch form of [[wordFrequency]]
    * for corpora whose vocabulary is too wide to shuffle: one pass, fixed
    * memory, no (word) exchange. With `capacity` ≥ the true vocabulary the
    * summary is exact, so the query entry oracle-checks against plain SQL
    * top-k; the approximate regime is spec-covered by its error bound.
    */
  def topWordsSketch(spark: SparkSession, sfDir: String, k: Int = 20,
                     capacity: Int = 4096): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .agg(graft.functions.TopKWords.topKWords(col("word"), k, capacity).as("tops"))
      .select(explode(col("tops")).as("t"))
      .select(col("t.word").as("word"), col("t.cnt").as("cnt"))

  /** Keyword substring search with snippet (F1 + X8,
    * `sql_search.py:188-284`): case-insensitive LIKE, a ±30-char snippet
    * around the first match, ordered by document size desc, LIMIT 100.
    */
  def keywordSearch(spark: SparkSession, sfDir: String, kw: String = "window"): DataFrame = {
    val pos = locate(kw, lower(col("text")))
    Tables.documents(spark, sfDir)
      .where(lower(col("text")).contains(kw))
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        substring(col("text"), greatest(pos - 30, lit(1)), lit(80)).as("snippet"))
      .orderBy(desc("n_chars"), asc("doc_id"))
      .limit(100)
  }

  /** Context-window search over the document corpus (J5/W3,
    * `sql_search.py:906-1027`): the reference finds top-50 keyword hits,
    * then issues ONE SQL query PER HIT for `order_index BETWEEN hit±k` —
    * the classic N+1. Here both phases fold into one plan: the hit list
    * (LIMIT applied BEFORE expansion, preserving the reference's
    * limit-then-context semantics) is ≤`topN` rows, so Catalyst
    * broadcasts it and the context expansion is a single broadcast range
    * join against the sentence frame — one corpus scan, no per-hit
    * round-trips, no shuffle of the big side.
    *
    * The corpus analog of "±k messages in the conversation" is "±k
    * sentences in the document"; the synthetic docs carry no sentence
    * punctuation, so the same deterministic 12-word boundary as the s4
    * entry sentencifies first (both engines replicate the regex).
    */
  def contextWindowSearch(spark: SparkSession, sfDir: String,
                          kw: String = "window", k: Int = 2,
                          topN: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sentencified = docs.select(col("doc_id"),
      regexp_replace(col("text"), "((?:\\S+\\s+){12})", "$1. ").as("text"))
    val sents = Summarizer.sentencesDf(sentencified)
    val hits = sents.where(lower(col("sentence")).contains(kw))
      .orderBy(asc("doc_id"), asc("sidx")).limit(topN)
      .select(col("doc_id"), col("sidx").as("hit_sidx"))
    hits.join(sents, Seq("doc_id"))
      .where(col("sidx").between(col("hit_sidx") - k, col("hit_sidx") + k))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("hit_sidx"), col("sidx"),
        col("sentence"), (col("sidx") === col("hit_sidx")).as("is_match"))
  }

  /** Boolean keyword search (F2, `sql_search.py:286-392`): the parsed
    * `a AND b OR (c NOT d)` predicate as Column algebra.
    */
  def booleanSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val t = lower(col("text"))
    Tables.documents(spark, sfDir)
      .where((t.contains("join") && t.contains("stream")) ||
             (t.contains("sort") && !t.contains("slow")))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** F2 with the real parser: a user-supplied flat boolean query string
    * compiled to one pushable predicate (see
    * [[graft.functions.BooleanQuery]]).
    */
  val DefaultBooleanQuery = "scan OR merge NOT slow"
  def booleanQuerySearch(spark: SparkSession, sfDir: String,
                         query: String = DefaultBooleanQuery): DataFrame =
    Tables.documents(spark, sfDir)
      .where(graft.functions.BooleanQuery.predicate(col("text"), query))
      .select("doc_id", "lang", "source", "n_chars")

  /** Date-range search (F4, `sql_search.py:516-621`) on events. */
  def dateRangeStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .where(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  /** Ranked-hits hydration (F9, `sql_search.py:464-481`): a small ranked hit
    * list joined back against the corpus, preserving rank — the semantic
    * search post-join. The hits side is 10 rows, so the join broadcasts.
    */
  def hitsHydrate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val hits = docs.select("doc_id", "n_chars")
      .orderBy(desc("n_chars"), asc("doc_id")).limit(10)
      .withColumn("hit_rank", row_number().over(
        Window.orderBy(desc("n_chars"), asc("doc_id"))).cast("long"))
      .select("doc_id", "hit_rank")
    docs.join(broadcast(hits), "doc_id")
      .select("hit_rank", "doc_id", "lang", "source", "n_chars")
  }

  /** Random sample (F10, `sql_search.py:1194-1202`): seeded ORDER BY
    * RANDOM() LIMIT n. No oracle (RNGs differ across engines) — rows-only.
    */
  /** Deterministic hash sample (F10, `sql_search.py:1194-1202`): rank by
    * md5 of a salted key and take the first n. Engine-portable — unlike
    * `rand(seed)`, whose stream is Spark-specific, the md5 ordering is
    * identical in any engine, so the sample is reproducible AND
    * oracle-checkable. At cluster scale this is a full sort only of the
    * (hash, id) projection; TakeOrderedAndProject keeps it one pass.
    */
  def randomSample(spark: SparkSession, sfDir: String, n: Int = 50): DataFrame =
    Tables.documents(spark, sfDir)
      .orderBy(md5(concat(lit("sample42_"), col("doc_id").cast("string"))), col("doc_id"))
      .limit(n)

  /** Deterministic stratified sample: the top `perStratum` documents per
    * language by salted-md5 rank — balanced sampling for training-data
    * curation (a raw sample of a skewed corpus over-represents the head
    * language). One window pass partitioned by the stratum key; the same
    * md5 ordering as [[randomSample]], so it is engine-portable and
    * oracle-checkable.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String,
                       perStratum: Int = 10): DataFrame = {
    val rk = row_number().over(
      Window.partitionBy(col("lang"))
        .orderBy(md5(concat(lit("strat42_"), col("doc_id").cast("string"))), col("doc_id")))
    Tables.documents(spark, sfDir)
      .withColumn("rk", rk)
      .where(col("rk") <= perStratum)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("rk"))
  }

  /** Topic CASE-bucket aggregation (A16): per language, the number of
    * documents mentioning each topic (substring semantics like the
    * reference's LIKE chains) plus totals.
    */
  def topicBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val t = lower(col("text"))
    val aggs = Topics.map { case (name, kws) =>
      sum(when(containsAny(t, kws), 1).otherwise(0)).as(s"${name}_docs")
    } :+ count(lit(1)).as("total_docs")
    Tables.documents(spark, sfDir).groupBy("lang").agg(aggs.head, aggs.tail: _*)
  }

  /** Topic co-occurrence matrix (A17, `exper_sql.py:2495-2574`): for each
    * topic pair, how many documents mention both. One aggregation computing
    * per-doc boolean flags, then 6 flag-product sums unpivoted to long form
    * — not the reference's per-pair correlated subqueries.
    */
  def topicCooccurrence(spark: SparkSession, sfDir: String): DataFrame = {
    val t = lower(col("text"))
    val flagged = Tables.documents(spark, sfDir).select(
      Topics.map { case (name, kws) =>
        when(containsAny(t, kws), 1).otherwise(0).as(name) }: _*)
    val pairs = for {
      i <- Topics.indices; j <- Topics.indices if i < j
    } yield (Topics(i)._1, Topics(j)._1)
    val agged = flagged.agg(
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"${a}__$b") }.head,
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"${a}__$b") }.tail: _*)
    val stackExpr = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (topic_a, topic_b, n_docs)")
    agged.selectExpr(stackExpr)
  }

  /** Vocabulary intersection across languages (U1,
    * `content_analysis.py:107-108`): words frequent (>5) in English docs
    * that are also frequent (>2) in French docs, with both counts.
    */
  def vocabOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    def freq(lang: String, minN: Long) =
      Tables.documents(spark, sfDir)
        .where(col("lang") === lang)
        .select(explode(TextFns.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as(s"${lang}_n"))
        .where(col(s"${lang}_n") > minN)
    freq("en", 5).join(freq("fr", 2), "word")
  }

  /** Vocabulary difference (U2, `content_analysis.py:110-114`): frequent
    * English words absent (or rare) in French — left-anti join.
    */
  def vocabUnique(spark: SparkSession, sfDir: String): DataFrame = {
    def freq(lang: String, minN: Long) =
      Tables.documents(spark, sfDir)
        .where(col("lang") === lang)
        .select(explode(TextFns.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .where(col("n") > minN)
    freq("en", 5).join(freq("fr", 2).select("word"), Seq("word"), "left_anti")
  }

  /** Character-count text statistics via the REPLACE trick (X2,
    * `exper_sql.py:988-1005`): sentence count = dots removed, word count =
    * spaces + 1, with the reference's zero-guard CASE.
    */
  def docStats(spark: SparkSession, sfDir: String): DataFrame = {
    val nSent = length(col("text")) - length(regexp_replace(col("text"), "\\.", ""))
    val nWords = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      nSent.cast("long").as("n_sentences"),
      nWords.cast("long").as("n_words"),
      when(nSent > 0, round(nWords.cast("double") / nSent, 2)).otherwise(0.0)
        .as("words_per_sentence"))
  }

  /** Sentiment lexicon counting (A15, `exper_sql.py:889-984`): occurrences
    * of fixed positive/negative token lexicons per language with pos/neg
    * percentage of all tokens.
    */
  def sentimentCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val pos = Seq("fast", "small"); val neg = Seq("slow", "big")
    val toks = TextFns.tokens(col("text"))
    val cnt = (lex: Seq[String]) =>
      size(org.apache.spark.sql.graftext.SetFilterExpr.inSet(toks, lex))
    Tables.documents(spark, sfDir)
      .select(col("lang"), cnt(pos).as("p"), cnt(neg).as("n"), size(toks).as("t"))
      .groupBy("lang")
      .agg(sum(col("p")).as("pos_hits"), sum(col("n")).as("neg_hits"),
           round(sum(col("p")).cast("double") * 100 / sum(col("t")), 6).as("pos_pct"),
           round(sum(col("n")).cast("double") * 100 / sum(col("t")), 6).as("neg_pct"))
  }
}
