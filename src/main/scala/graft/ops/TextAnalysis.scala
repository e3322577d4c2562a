package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: per-document statistics / quality scoring,
  * keyword-profile language ID, and polynomial fingerprinting.
  *
  * All kernels are builtin codegen'd expressions (split / higher-order
  * array functions / regexp counts) — embarrassingly parallel per row,
  * no shuffle except the final presentation ORDER BY, no UDFs. At
  * 100 TB these run at scan speed with full column pruning.
  *
  * Determinism for the oracle hash: every score is integer-scaled
  * (milli-units) or an exact integer count; the only division is by an
  * exact small integer, rounded identically in both engines.
  */
object TextAnalysis {

  /** Words as the reference unit: whitespace split of trimmed text. */
  private def words(c: Column): Column = Det.words(c)

  private def nTokens(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(words(c))).cast("long")

  /** Language keyword profiles (argmax classifier). Tie-break is the
    * fixed CASE order en, de, es, fr, zh. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "key", "value"),
    "de" -> Seq("table", "join", "merge", "batch"),
    "es" -> Seq("data", "row", "stream", "filter"),
    "fr" -> Seq("window", "query", "order", "line"),
    "zh" -> Seq("spark", "hash", "sort", "scan"))

  private def hits(c: Column, profile: Seq[String]): Column =
    size(filter(words(c), w => w.isin(profile.map(lit): _*))).cast("long")

  /** Per-document statistics + integer quality score (q25).
    * BPE-ish token count: runs of letters, runs of digits, or single
    * other non-space chars — the classic pre-tokenizer regex. */
  def docStats(s: SparkSession, dir: String): DataFrame =
    docStatsCols(Tables.documents(s, dir)).orderBy("doc_id")

  /** The q25 projection alone — stateless per-row kernels, so it
    * applies to a streaming DataFrame unchanged (the harness query
    * adds only the presentation sort). */
  def docStatsCols(d: DataFrame): DataFrame = {
    val t = col("text")
    val en = LangProfiles.head._2
    d.select(
        col("doc_id"), col("lang"), col("source"),
        length(t).cast("long").as("n_chars_m"),
        nTokens(t).as("n_tokens"),
        size(array_distinct(words(t))).cast("long").as("n_distinct_tokens"),
        length(regexp_replace(t, Det.WsClass, "")).cast("long")
          .as("token_chars"),
        length(regexp_replace(t, s"[a-z0-9${Det.WsChars}]", "")).cast("long")
          .as("punct_chars"),
        regexp_count(t, lit(s"[a-z]+|[0-9]+|[^a-z0-9${Det.WsChars}]")).cast("long")
          .as("bpe_tokens"),
        hits(t, en).as("stop_hits"))
      .withColumn("quality_milli",
        when(col("n_tokens") > 0,
          round(col("stop_hits") * lit(1000.0) / col("n_tokens")))
          .otherwise(lit(0)).cast("long"))
  }

  /** Keyword-profile language ID (q26): per-profile hit counts, argmax
    * with the fixed tie-break order, agreement vs the labeled lang. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val t = col("text")
    val withHits = LangProfiles.foldLeft(
      d.select(col("doc_id"), col("lang"), t)) { case (df, (l, p)) =>
      df.withColumn(s"h_$l", hits(t, p))
    }
    val Seq(en, de, es, fr, zh) =
      LangProfiles.map { case (l, _) => col(s"h_$l") }
    withHits.withColumn("predicted",
        when(en >= de && en >= es && en >= fr && en >= zh, "en")
          .when(de >= es && de >= fr && de >= zh, "de")
          .when(es >= fr && es >= zh, "es")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
      .withColumn("is_match",
        (col("predicted") === col("lang")).cast("int").cast("long"))
      .select("doc_id", "lang", "predicted", "is_match",
        "h_en", "h_de", "h_es", "h_fr", "h_zh")
      .orderBy("doc_id")
  }

  /** Cross-engine 32-bit word hash: first 8 hex digits of md5, as a
    * BIGINT. DuckDB mirror: CAST('0x' || substr(md5(w),1,8) AS BIGINT).
    * md5 is overkill cryptographically but it is the ONE hash both
    * engines compute identically — determinism beats speed in the
    * differential harness, and the same structure works with any
    * per-engine hash in production. */
  def wordHash(c: Column): Column = Det.h8(c)

  private val FpMod = 1000000007L
  private val HashMod = 1000003L
  private val Weights = Seq(1L, 31L, 961L, 29791L, 923521L)

  /** Polynomial rolling-hash document fingerprint (q27):
    * sum_i (hash(w_i) mod 1000003) * 31^(i mod 5), mod 1e9+7.
    * Bounded so the sum stays well under 2^63 for any document length;
    * integer arithmetic → order-independent and engine-exact. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val terms = transform(words(col("text")),
      (w, i) => (wordHash(w) % HashMod) *
        element_at(array(Weights.map(lit): _*), (i % 5) + 1))
    d.select(col("doc_id"), col("n_chars"),
        (aggregate(terms, lit(0L), (acc, x) => acc + x) % FpMod).as("fp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q75
  /** Vocabulary cap for the co-occurrence pass. */
  val PmiVocab = 1024

  /** q75: document-level token co-occurrence with PMI-style lift —
    * the association-mining pass (collocations, topic seeds, taxonomy
    * bootstrapping) of a text pipeline. A pair (a, b), a < b, counts
    * once per document containing both; `lift_ppm` is the integer-ppm
    * observed/expected ratio `1e6 · c_ab · n_docs / (df_a · df_b)`
    * (PMI without the log — same ranking, integer-exact oracle).
    *
    * Scale design: the quadratic step (within-doc token pairing) is
    * bounded by the TOP-[[PmiVocab]] vocabulary — per-doc pair fan-out
    * is ≤ min(distinct, V)²/2 regardless of document length, the
    * standard cap for corpus-scale PMI. The vocab (V rows) rides a
    * broadcast; the pairing is a self-equi-join on doc_id whose two
    * sides are the same frame (ReusedExchange collapses the shuffle);
    * pair counts hash-aggregate on the (a, b) key. Top-k is
    * TakeOrderedAndProject, never a global sort. The ppm product is
    * computed in ONE double expression (each IEEE op is correctly
    * rounded, so both engines agree bit-for-bit) — exact while
    * c_ab·n_docs ≤ 2^53/1e6; beyond that emit log-space PMI instead. */
  def pmiPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val tokens = d.select(col("doc_id"),
        explode(array_distinct(words(col("text"))))
          .as("tok"))
      .where(length(col("tok")) > 0)
    val dfreq = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
    val vocab = dfreq.orderBy(col("df").desc, col("tok")).limit(PmiVocab)
    val tv = tokens.join(broadcast(vocab), "tok")
    val pairs = tv.select(col("doc_id"), col("tok").as("a"), col("df").as("df_a"))
      .join(tv.select(col("doc_id"), col("tok").as("b"), col("df").as("df_b")),
        Seq("doc_id"))
      .where(col("a") < col("b"))
      .groupBy("a", "b", "df_a", "df_b").agg(count(lit(1)).as("c_ab"))
    val tot = d.agg(count(lit(1)).as("n_docs"))
    pairs.crossJoin(broadcast(tot))
      .withColumn("lift_ppm",
        round(lit(1000000.0) * col("c_ab") * col("n_docs") /
          (col("df_a") * col("df_b"))).cast("long"))
      .select("a", "b", "c_ab", "df_a", "df_b", "lift_ppm")
      .orderBy(col("c_ab").desc, col("a"), col("b"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q77
  /** q77: bigram language-model counts — the n-gram-LM estimation pass
    * (and the first instrument of corpus inspection before training):
    * adjacent token pairs with their context count and the integer-ppm
    * conditional probability `P(b|a) ≈ c_ab·1e6 / c_a`, top-k by pair
    * frequency. All-integer, so the oracle matches cell-for-cell.
    *
    * Scale design: bigrams explode linearly (len−1 rows per doc) and
    * hash-aggregate on the (a, b) key; the context counts c_a are a
    * SECOND aggregate over the already-reduced pair table (never over
    * raw bigrams — |pairs| ≤ V², orders of magnitude below corpus
    * token count), joined back on the context key. Top-k is
    * TakeOrderedAndProject. Hot contexts aggregate; they never fan
    * out. Higher-order n-grams are the same plan with a wider key. */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val ts = words(col("text"))
    val bi = d.select(col("doc_id"), ts.as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - lit(1)),
          i => struct(element_at(col("ts"), i).as("a"),
            element_at(col("ts"), i + lit(1)).as("b"))))
        .otherwise(array())).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
    cab.join(ca, "a")
      .withColumn("cond_ppm", expr("c_ab * 1000000 div c_a"))
      .select("a", "b", "c_ab", "c_a", "cond_ppm")
      .orderBy(col("c_ab").desc, col("a"), col("b"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q95
  /** Fixed merge-round count for BPE vocabulary learning. */
  val BpeRounds = 6

  /** q95: byte-pair-encoding merge learning (Sennrich et al. 2016) —
    * the actual tokenizer-training kernel: [[BpeRounds]] rounds of
    * "count adjacent symbol pairs over the word vocabulary (weighted
    * by word frequency), merge the single highest-count pair
    * everywhere". Output is the learned merge table (round, pair,
    * count, new symbol).
    *
    * Representation: a word's symbol sequence is ONE string with each
    * symbol wrapped in `|` ("abc" → "|a||b||c|", built by a single
    * regexp_replace). Applying a merge (a,b)→ab is then a single
    * literal `replace(seq, "|a||b|", "|ab|")` — and literal replace's
    * left-to-right non-overlapping scan IS BPE's greedy merge order
    * ("aaaa" + (a,a) → [aa][aa], never [a][aa][a]). The remap stays a
    * codegen'd string kernel; no interpreted array lambda touches the
    * hot column. `|` cannot collide: the vocabulary is restricted to
    * fully-alphanumeric words (the standard BPE pre-tokenizer split;
    * merged symbols stay alphanumeric by induction).
    *
    * Scale shape: the corpus collapses to the (word, freq) vocabulary
    * FIRST (one explode + hash agg — the only pass over raw text);
    * every round then runs over vocab-sized data: pair explode (≤ word
    * length per row) + hash agg on the pair key + a global top-1
    * (TakeOrderedAndProject) + one broadcast crossJoin of the 1-row
    * winner. Rounds execute eagerly (the q87/q91 pattern): each
    * round's seq frame is persisted while the next round's count job
    * runs, the 1-row winner is localCheckpoint'd (lineage-truncated),
    * and every cache is dropped before returning — the declared plan
    * is a union of [[BpeRounds]] one-row leaves. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeRounds(s, dir)._1

  /** The eager merge-round core shared by q95 (the merge table) and
    * q96 (tokenizing with it): returns the per-round winner union AND
    * the post-round vocabulary — `(word, freq, seq)` with `seq` the
    * fully-merged wrapped symbol string. Both returned frames are
    * lineage-truncated (checkpointed winners / checkpointed final
    * vocab), and every per-round cache is dropped before returning.
    *
    * Under the opt-in [[PipelineCache]] both frames are memoized per
    * (session, dir) as `q95_bpe_merges/…` sub-pipelines: q95 OWNS the
    * training (Bench invalidates it per measured run), q96 derives
    * from the trained vocabulary — the q28→q29 write-once/read-many
    * relationship a production tokenizer has with its consumers. */
  private[ops] def bpeRounds(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    var memo: Option[(DataFrame, DataFrame)] = None
    def computed: (DataFrame, DataFrame) = memo.getOrElse {
      val r = bpeRoundsUncached(s, dir); memo = Some(r); r
    }
    val m = PipelineCache.getOrPersist(s, dir, "q95_bpe_merges/table")(
      computed._1)
    val f = PipelineCache.getOrPersist(s, dir, "q95_bpe_merges/final_vocab")(
      computed._2)
    (m, f)
  }

  private def bpeRoundsUncached(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val vocab = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val seq0 = vocab.select(col("word"), col("freq"),
      regexp_replace(col("word"), "(.)", "|$1|").as("seq"))

    def pairTop1(seqDf: DataFrame): DataFrame = {
      val syms = split(trim(col("seq"), "|"), "\\|\\|")
      seqDf.select(col("freq"), syms.as("syms"))
        .select(col("freq"), explode(when(size(col("syms")) >= 2,
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + lit(1)).as("b"))))
          .otherwise(array())).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("pair_count"))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1)
    }

    // each round's seq is persisted while the next round's jobs run;
    // the merge table reads every round's 1-row winner, so those
    // checkpoints outlive the scope
    Rounds.scoped { r =>
      val (seqN, merges) = Rounds.iterate(
          (r.persist(seq0), Vector.empty[DataFrame]), BpeRounds) {
        case ((seq, merges), round) =>
          val top1 = r.keep(r.checkpoint(pairTop1(seq))) // ≤1 row, eager
          val merged = merges :+ top1.select(lit(round.toLong).as("merge_round"),
            col("a").as("sym_a"), col("b").as("sym_b"), col("pair_count"),
            concat(col("a"), col("b")).as("new_sym"))
          // no adjacent pair anywhere: every word is one symbol. The
          // vocabulary must SURVIVE (a crossJoin with the empty winner
          // would wipe it and q96 would mis-charge every in-vocab word
          // as OOV); later rounds can only be empty too, so stop.
          if (top1.isEmpty) ((seq, merged), true)
          else {
            val next = r.persist(seq.crossJoin(broadcast(top1))
              .select(col("word"), col("freq"),
                expr("replace(seq, concat('|', a, '||', b, '|'), " +
                  "concat('|', a, b, '|'))").as("seq")))
            ((next, merged), false)
          }
      }
      (merges.reduce(_.union(_)).orderBy("merge_round"), seqN.localCheckpoint(true))
    }
  }

  // ---------------------------------------------------------------- q96
  /** q96: tokenize with the q95-trained tokenizer — the pre-training
    * bookkeeping query (token budgets, packing estimates, compression
    * tracking run over every corpus candidate). Per document: the
    * whitespace word count, the BPE token count under the learned
    * merges, and the integer-ppm compression ratio (BPE tokens per
    * 1000 chars of token text).
    *
    * In-vocabulary words cost their merged symbol count (read straight
    * off the q95 final vocabulary — training already computed it; no
    * re-encoding pass). Out-of-vocabulary words (non-alphanumeric)
    * fall back to one token per character — byte-fallback semantics,
    * exactly what they'd cost under merges they never participated in.
    *
    * Scale shape: one explode over doc words, one hash join against
    * the vocab frame on the word key (the tokenizer vocabulary —
    * shuffle-joinable at any corpus size, broadcast-able for real
    * tokenizers), one doc_id hash agg, and a left join back onto
    * `documents` so empty documents keep a (0, 0) row. */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val finalSeq = bpeRounds(s, dir)._2
    val nsyms = finalSeq.select(col("word"),
      size(split(trim(col("seq"), "|"), "\\|\\|")).cast("long").as("n_syms"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val perDoc = toks
      .join(nsyms, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_syms"), length(col("word")).cast("long")))
          .as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_word_chars"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        when(coalesce(col("n_word_chars"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("n_bpe_tokens * 1000 div n_word_chars"))
          .as("tokens_per_kchar"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q98
  /** Keep threshold for the LM fluency screen (mean conditional bigram
    * probability, ppm) — near the harness corpus median, so both
    * outcomes are exercised; a production run calibrates this against
    * a reference corpus percentile exactly the way CCNet does. */
  val LmKeepPpmMin = 35000L

  /** q98: bigram-LM fluency filter — the CCNet/KenLM-shaped screen
    * that ranks documents by how predictable their text is under a
    * language model; here the model is q77's own corpus bigram LM, and
    * the score is the MEAN conditional bigram probability in integer
    * ppm (`avg of c_ab·1e6 div c_a` over the document's adjacent
    * pairs) — a monotone fluency proxy that stays integer-exact where
    * log-perplexity would be float-ordered. Documents with fewer than
    * 2 tokens score 0 and are never kept.
    *
    * Scale shape: bigrams explode linearly; the LM tables are the
    * q77 aggregations (|pairs| ≤ V², far below corpus token count);
    * scoring is one hash join on the (a, b) pair key — big-big
    * shuffle-joinable at any scale — then one doc_id hash agg and a
    * left join back so every document keeps a row. Self-scoring is
    * deliberate (deterministic, no held-out split to disagree on);
    * swapping in an external LM table changes one join input. */
  def lmFluency(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val ts = words(col("text"))
    val bi = d.select(col("doc_id"), ts.as("ts"))
      .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - lit(1)),
          i => struct(element_at(col("ts"), i).as("a"),
            element_at(col("ts"), i + lit(1)).as("b"))))
        .otherwise(array())).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
    val scored = bi
      .join(cab, Seq("a", "b")).join(ca, Seq("a"))
      .withColumn("cond_ppm", expr("c_ab * 1000000 div c_a"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("cond_ppm").as("sum_ppm"))
    d.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("sum_ppm div n_bigrams")).as("lm_mean_ppm"))
      .withColumn("lm_keep",
        (col("lm_mean_ppm") >= LmKeepPpmMin).cast("long"))
      .orderBy("doc_id")
  }

  /** q89: vocabulary-growth (Heaps'-law) curve — cumulative distinct
    * tokens as the corpus is consumed in doc_id order, bucketed every
    * `VocabBucket` docs. The scalable construction avoids any
    * "distinct over a growing prefix": each token's FIRST document
    * (min doc_id per token — one hash agg) fully determines the curve,
    * because a token adds to the cumulative count exactly at its first
    * bucket. Shuffles: explode→agg on token, agg on bucket, then a
    * running sum over the bucket rows (the single-partition window is
    * on the bucket SUMMARY — at most |vocab| non-empty rows — never
    * the data). Bucket width 1 (per-doc marginal vocabulary): the
    * harness corpus has a ~31-token synthetic vocabulary, so wider
    * buckets degenerate to one row; a real crawl would set ~10⁴. */
  val VocabBucket = 1L

  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val firstDoc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(words(col("text"))))
        .as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
    val buckets = firstDoc
      .groupBy(expr(s"first_doc div $VocabBucket").as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
    buckets
      .withColumn("cum_tokens",
        sum("new_tokens").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), col("new_tokens"),
        col("cum_tokens").cast("long").as("cum_tokens"))
      .orderBy("bucket")
  }

  // -------------------- q103: source distribution divergence --------------------

  /** Pairwise source-distribution divergence (q103): for every source
    * pair, an integer-ppm chi-square–style distance between their
    * unigram frequency profiles — the drift diagnostic behind dataset
    * mixing (q73 weights sources; this says which sources are
    * near-duplicates DISTRIBUTIONALLY, where q100 asks about shared
    * verbatim chunks). For per-source frequencies in ppm (f = cnt·10⁶
    * div n_tokens), the distance is
    *   Σ_shared (f_a − f_b)² div (f_a + f_b)  +  missing mass,
    * where a token present only in one source contributes exactly its
    * f (the (f−0)²/(f+0) limit) — computed as Σf_src minus the shared
    * part, so tokens outside the shared join need no outer join. All
    * integer; no logs (a KL needs ln, which the two engines round
    * differently — the chi-square form is the standard log-free
    * alternative and is what the integer-ppm discipline can express
    * exactly).
    *
    * Scale shape: explode → groupBy (source, token) with map-side
    * partial agg; the pair table is the vocab-keyed self-join (a token
    * in k sources emits k(k−1)/2 pair rows — bounded by the source
    * enum, the q100 argument); per-source totals and Σf are tiny
    * broadcast frames. Pairs sharing ZERO tokens drop out of the
    * equi-join (their distance is the degenerate 2·10⁶) — the q100
    * convention, impossible for same-language sources. Tokens whose
    * ppm floors to 0 in BOTH sources contribute 0 via the guarded
    * division (at crawl scale n_tokens ≫ 10⁶ makes singleton tokens
    * round to f = 0). */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val cnt = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy("source").agg(sum("c").as("n"))
    val freq = cnt.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("w"), expr("c * 1000000 div n").as("f"))
    val sumF = freq.groupBy("source").agg(sum("f").as("sum_f"))
    val shared = freq.as("x").join(freq.as("y"), Seq("w"))
      .where(col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("shared_tokens"),
        sum(when(col("x.f") + col("y.f") === 0, 0L)
          .otherwise(expr("(x.f - y.f) * (x.f - y.f) div (x.f + y.f)")))
          .as("chi2_shared"),
        sum(col("x.f")).as("shared_fa"),
        sum(col("y.f")).as("shared_fb"))
    shared
      .join(broadcast(sumF.select(col("source").as("src_a"), col("sum_f").as("sfa"))),
        Seq("src_a"))
      .join(broadcast(sumF.select(col("source").as("src_b"), col("sum_f").as("sfb"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_tokens"),
        (col("chi2_shared") + (col("sfa") - col("shared_fa")) +
          (col("sfb") - col("shared_fb"))).as("chi2_ppm"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- q145
  /** Ranked-vocabulary cap for the coverage curve. Top-N by frequency
    * is where the curve is decided (the tail contributes one token per
    * type); the cap bounds the single-partition cumulative window to a
    * constant row count — at 100 TB the ranked head is still 4096
    * rows, selected by TakeOrdered (no global sort). */
  val CoverageVocabCap = 4096

  /** Coverage thresholds the vocab is sized for (ppm of all tokens). */
  val CoverageThresholdsPpm: Seq[Long] = Seq(500000L, 750000L, 900000L, 990000L)

  /** q145: token-coverage curve — the smallest frequency-ranked
    * vocabulary covering X ppm of the corpus token stream, the number
    * that sizes a tokenizer's vocab (and explains its OOV rate). For
    * each threshold: the minimal rank whose cumulative count reaches
    * the threshold, plus the exact tokens covered at that rank.
    *
    * Shape: one explode → hash-agg on token (map-side combine), a
    * TakeOrdered head of [[CoverageVocabCap]] rows, ONE
    * single-partition window over that constant-size head for the
    * cumulative sum, and a 4-row threshold frame joined by broadcast.
    * The corpus-wide total is a 1-row broadcast (declared BNLJ, q49's
    * pattern). Cumulative count is monotone in rank, so min(rank) and
    * min(cum) pick the same row — no argmin struct needed. */
  def tokenCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val rankW = Window.orderBy(col("n").desc, col("tok"))
    val ranked = counts
      .orderBy(col("n").desc, col("tok")).limit(CoverageVocabCap)
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .withColumn("cum", sum("n").over(
        rankW.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    val total = counts.agg(sum("n").cast("long").as("total_tokens"))
    val thresholds = CoverageThresholdsPpm.toDF("thr_ppm")
    // The compare runs in DECIMAL(38,0): cum·1e6 leaves int64 at
    // ~9·10¹² corpus tokens (≈ the 100 TB envelope); decimal keeps it
    // exact to 10^32. A threshold the capped head cannot reach emits
    // (thr_ppm, NULL, NULL, total) — a visible "cap exceeded" row,
    // never a silently missing one.
    val reached = ranked.crossJoin(broadcast(total))
      .crossJoin(broadcast(thresholds))
      .filter(expr("CAST(cum AS DECIMAL(38,0)) * 1000000 >= CAST(thr_ppm AS DECIMAL(38,0)) * total_tokens"))
      .groupBy("thr_ppm")
      .agg(min("rank").as("vocab_size"), min("cum").as("covered_tokens"))
    thresholds.crossJoin(broadcast(total))
      .join(broadcast(reached), Seq("thr_ppm"), "left")
      .select(col("thr_ppm"), col("vocab_size"), col("covered_tokens"),
        col("total_tokens"))
      .orderBy("thr_ppm")
  }

  // ---------------------------------------------------------------- q157
  /** Context window radius, minimum pair support, and league size. */
  val CtxRadius = 2
  val CtxMinPair = 5L
  val CtxTopK = 50

  /** q157: skip-gram context lift — the word2vec training-pair census:
    * directed (center, context) pairs within ±[[CtxRadius]] positions,
    * scored by integer association lift (observed ÷ independence, in
    * milli) against the pair-event marginals. q75's PMI ranks
    * document-level co-occurrence; this ranks POSITIONAL context — the
    * actual skip-gram objective's input distribution.
    *
    * Pairs are built shuffle-free per row: for each distance k a
    * `transform` over index positions emits (ts[i], ts[i+k]) structs
    * (the array is a materialized column, so element access is O(1)
    * inside the lambda — the q113 scope rule), and both directions
    * come from the same undirected scan. One pair-keyed hash agg, two
    * marginal windows over the SAME pair frame, a 1-row total
    * broadcast (declared BNLJ), and a TakeOrdered league head.
    *
    * The lift numerator n_pair·N·1000 stays in 64 bits to ~10¹⁴ pair
    * events; beyond that, scale the total the q136 way (divide N by a
    * fixed 10^e before the multiply — it cancels in the ratio). */
  def contextLift(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(words(col("text")).as("ts"))
    def pairsAt(k: Int): DataFrame = toks.selectExpr(
      s"""explode(CASE WHEN size(ts) > $k THEN
         |  transform(sequence(0, size(ts) - ${k + 1}),
         |    i -> struct(ts[i] AS w1, ts[i + $k] AS w2))
         |  ELSE CAST(array() AS array<struct<w1: string, w2: string>>)
         |  END) AS p""".stripMargin)
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val dp = (1 to CtxRadius).map(pairsAt).map(p =>
      p.unionAll(p.select(col("w2").as("w1"), col("w1").as("w2"))))
      .reduce(_ unionAll _)
    val cab = dp.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val tot = cab.agg(sum("n_pair").cast("long").as("n"))
    val scored = cab
      .withColumn("c_a", sum("n_pair").over(Window.partitionBy("w1")).cast("long"))
      .withColumn("c_b", sum("n_pair").over(Window.partitionBy("w2")).cast("long"))
      .filter(col("n_pair") >= CtxMinPair)
      .crossJoin(broadcast(tot))
      .withColumn("lift_milli", expr("n_pair * n * 1000 div (c_a * c_b)"))
    scored
      .orderBy(col("lift_milli").desc, col("w1"), col("w2")).limit(CtxTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift_milli").desc, col("w1"), col("w2"))).cast("long"))
      .select(col("rank"), col("w1"), col("w2"),
        col("n_pair").cast("long").as("n_pair"), col("lift_milli"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q168
  /** TextRank: vocabulary cap, synchronous rounds, output head. */
  val TrVocab = 512
  val TrIters = 3
  val TrTopK = 50

  /** q168: TextRank keyword extraction (Mihalcea & Tarau 2004) —
    * weighted PageRank over the token co-occurrence graph: nodes are
    * the top-[[TrVocab]] tokens by corpus frequency, an undirected
    * edge weighted by how often the two tokens are ADJACENT anywhere
    * in the corpus (q77's bigram table, canonicalized), and
    * [[TrIters]] synchronous rank rounds in integer ppm — q67's
    * kernel lifted to weighted edges: each contribution is
    * `w_uv · r_u div W_u` with `W_u = Σ_v w_uv`, widened through
    * DECIMAL(38,0) so the product cannot overflow however hot the
    * corpus's bigrams get. The corpus-level keyword league —
    * unsupervised tags for mixing/curation dashboards.
    *
    * Scale shape: the bigram census hash-aggregates the token stream
    * (map-side combine), the vocab is a V-row broadcast, so the graph
    * is ≤ V² edges — constant-bounded regardless of corpus size. Each
    * round is one edge⋈rank join + one dst hash agg on that bounded
    * frame (2 shuffles/round over ≤ V² rows); top-k is TakeOrdered. */
  def textrank(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = d.select(explode(words(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(TrVocab)
      .select("tok")
    // ts MUST be materialized by its own projection before the
    // transform references it (q77's two-step shape): inlining the
    // split into the lambda re-derives it per element reference and
    // bloats the generated code — measured 6.1 s → 1.8 s at sf0.1
    // (MicroBench min, n=7; the rest of the residual is the rounds)
    val ts = words(col("text"))
    val bi = d.select(ts.as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - lit(1)),
          i => struct(element_at(col("ts"), i).as("a"),
            element_at(col("ts"), i + lit(1)).as("b"))))
        .otherwise(array())).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // The edge census is ≤ V² rows but its build scans the corpus
    // twice (vocab census + bigram census); every rank round (and
    // wout/deg) re-references it, so materialize ONCE — the "cache
    // outputs small relative to their recompute" rule (q95's round
    // pattern; the opposite call from q67's edge set, which is LARGER
    // than its input). Without the checkpoint the AQE-off static plan
    // re-derives the corpus census per reference (96 parquet scans of
    // `documents` in the unrolled plan, zero static ReusedExchange)
    // and only AQE's runtime exchange reuse rescues it — a plan one
    // must not ship at 100× scale on the hope that reuse keeps
    // firing (the q134 lesson). With it, downstream rounds read a
    // ≤V²/2-row checkpointed frame and the corpus is scanned twice
    // total. Measured isolated at sf0.1 (cache-ON min-of-7):
    // 2.526 s → 1.521 s (0.60×; canary 1.22 before / 1.30 after, so
    // the raw ratio understates it).
    val e = bi
      .join(broadcast(vocab.select(col("tok").as("a"))), "a")
      .join(broadcast(vocab.select(col("tok").as("b"))), "b")
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val adj = e.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val wout = adj.groupBy("src").agg(sum("w").as("wsum"))
    val adjw = adj.join(wout, "src")
    val r0 = wout.select(col("src").as("node"), lit(PrMassTr).as("r"))
    val rn = (1 to TrIters).foldLeft(r0) { (r, _) =>
      adjw.join(r, col("src") === col("node"))
        .select(col("dst"),
          expr("CAST(CAST(w AS DECIMAL(38,0)) * r div wsum AS BIGINT)").as("c"))
        .groupBy("dst")
        .agg((lit(15L * PrMassTr / 100) +
          expr("85 * sum(c) div 100").cast("long")).as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    val deg = adj.groupBy("src").agg(count(lit(1)).as("degree"))
    rn.join(deg, col("node") === col("src"))
      .select(col("node").as("token"), col("r").cast("long").as("rank_ppm"),
        col("degree").cast("long").as("degree"))
      .orderBy(col("rank_ppm").desc, col("token"))
      .limit(TrTopK)
  }

  /** Rank mass seed for q168 (ppm, = q67's PrMass). */
  val PrMassTr = 1000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_textrank" -> (textrank _),
    "q25_doc_stats" -> (docStats _),
    "q103_source_divergence" -> (sourceDivergence _),
    "q26_doc_langid" -> (langId _),
    "q27_doc_fingerprint" -> (fingerprint _),
    "q75_pmi_pairs" -> (pmiPairs _),
    "q77_bigram_lm" -> (bigramLm _),
    "q89_vocab_growth" -> (vocabGrowth _),
    "q95_bpe_merges" -> (bpeMerges _),
    "q96_bpe_tokenize" -> (bpeTokenize _),
    "q98_lm_fluency" -> (lmFluency _),
    "q145_token_coverage" -> (tokenCoverage _),
    "q157_context_lift" -> (contextLift _)
  )

  private def inList(p: Seq[String]): String =
    p.map(w => s"'$w'").mkString(", ")

  private val hitsSqlAll: String = LangProfiles.map { case (l, p) =>
    s" len(list_filter(string_split_regex(trim(text), '${Det.WsClass}+'), x -> x IN (${inList(p)}))) AS h_$l"
  }.mkString(",\n")

  /** Per-doc langid CTE chain (`h` hit counts → `lpred` argmax) — the
    * SQL mirror of [[langId]], shared between the q26 oracle and the
    * q108 curation-funnel oracle so "which language is this" has one
    * cross-engine definition. */
  private[ops] lazy val langPredCtes: String =
    s"""h AS (
       | SELECT doc_id, lang,
       |$hitsSqlAll
       | FROM documents),
       |lpred AS (
       | SELECT doc_id, lang,
       |  CASE WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
       |       WHEN h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
       |       WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
       |       WHEN h_fr >= h_zh THEN 'fr'
       |       ELSE 'zh' END AS predicted,
       |  h_en, h_de, h_es, h_fr, h_zh
       | FROM h)""".stripMargin

  /** q95's oracle: the same fixed merge rounds unrolled as CTE chains
    * (p{r} pair counts / t{r} winner / s{r} remapped sequences),
    * generated from the same constants — the q59-oracle pattern.
    * DuckDB's literal `replace` scans left-to-right non-overlapping
    * exactly like Spark's, so the remap strings stay engine-identical. */
  /** Shared q95/q96 oracle CTE chain: vocabulary `w`, wrapped
    * sequences `s0`, and per-round (p{r} counts / t{r} winner / s{r}
    * remap) through `s{BpeRounds}` — word carried so q96 can read the
    * final per-word symbol count. */
  private lazy val bpeChainCtes: String = {
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT syms[i] AS a, syms[i+1] AS b,
         |   CAST(sum(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, string_split(trim(seq, '|'), '||') AS syms
         |        FROM $prev), UNNEST(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT a, b, pair_count FROM p$r
         |  ORDER BY pair_count DESC, a, b LIMIT 1),
         |s$r AS (SELECT word, freq,
         |   CASE WHEN t.a IS NULL THEN seq
         |        ELSE replace(seq, '|' || t.a || '||' || t.b || '|',
         |                     '|' || t.a || t.b || '|') END AS seq
         |  FROM $prev LEFT JOIN t$r t ON TRUE)""".stripMargin
    }
    s"""w AS (
       | SELECT word, count(*) AS freq FROM (
       |  SELECT unnest(${Det.wordsSql("text")}) AS word FROM documents)
       | WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
       |s0 AS (SELECT word, freq,
       |  regexp_replace(word, '(.)', '|\\1|', 'g') AS seq FROM w),
       |${(1 to BpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private lazy val bpeOracle: String = {
    val selects = (1 to BpeRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, a AS sym_a, b AS sym_b,
         | pair_count, a || b AS new_sym FROM t$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeChainCtes
       |SELECT * FROM (
       |$selects
       |) ORDER BY merge_round""".stripMargin
  }

  private lazy val bpeTokenizeOracle: String =
    s"""WITH $bpeChainCtes,
       |nsyms AS (SELECT word,
       |   CAST(len(string_split(trim(seq, '|'), '||')) AS BIGINT) AS n_syms
       |  FROM s$BpeRounds),
       |toks AS (SELECT doc_id, word FROM (
       |  SELECT doc_id, unnest(${Det.wordsSql("text")}) AS word
       |  FROM documents) WHERE length(word) > 0),
       |pd AS (SELECT doc_id, count(*) AS n_words,
       |   CAST(sum(coalesce(n_syms, length(word))) AS BIGINT) AS n_bpe_tokens,
       |   CAST(sum(length(word)) AS BIGINT) AS n_word_chars
       |  FROM toks LEFT JOIN nsyms USING (word) GROUP BY doc_id)
       |SELECT d.doc_id,
       | coalesce(n_words, 0) AS n_words,
       | coalesce(n_bpe_tokens, 0) AS n_bpe_tokens,
       | CASE WHEN coalesce(n_word_chars, 0) = 0 THEN 0
       |      ELSE n_bpe_tokens * 1000 // n_word_chars END AS tokens_per_kchar
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q168_textrank" -> {
      val rounds = (1 to TrIters).map { i =>
        s"""r$i AS (
           | SELECT dst AS node, CAST(${15L * PrMassTr / 100}
           |   + (85 * sum(CAST(CAST(w AS HUGEINT) * r // wsum AS BIGINT)))
           |     // 100 AS BIGINT) AS r
           | FROM adj JOIN wout USING (src)
           | JOIN r${i - 1} ON r${i - 1}.node = adj.src
           | GROUP BY dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH toksd AS (
         | SELECT doc_id, ${Det.wordsSql("text")} AS ts FROM documents),
         |vocab AS (
         | SELECT tok FROM (
         |  SELECT tok, count(*) AS tf FROM (
         |   SELECT unnest(ts) AS tok FROM toksd) x
         |  WHERE tok <> '' GROUP BY tok) c
         | ORDER BY tf DESC, tok LIMIT $TrVocab),
         |bi AS (
         | SELECT ts[i] AS a, ts[i+1] AS b
         | FROM toksd, UNNEST(range(1, len(ts))) AS t(i)),
         |e AS (
         | SELECT least(a, b) AS u, greatest(a, b) AS v, count(*) AS w
         | FROM bi JOIN vocab va ON va.tok = bi.a
         |         JOIN vocab vb ON vb.tok = bi.b
         | WHERE a <> b GROUP BY 1, 2),
         |adj AS (SELECT u AS src, v AS dst, w FROM e
         |        UNION ALL SELECT v, u, w FROM e),
         |wout AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
         |         FROM adj GROUP BY src),
         |r0 AS (SELECT src AS node, CAST($PrMassTr AS BIGINT) AS r FROM wout),
         |$rounds,
         |deg AS (SELECT src, count(*) AS degree FROM adj GROUP BY src)
         |SELECT r$TrIters.node AS token, r AS rank_ppm,
         | CAST(degree AS BIGINT) AS degree
         |FROM r$TrIters JOIN deg ON deg.src = r$TrIters.node
         |ORDER BY rank_ppm DESC, token LIMIT $TrTopK""".stripMargin
    },
    "q103_source_divergence" ->
      s"""WITH tok AS (
         | SELECT source, unnest(${Det.wordsSql("text")}) AS w FROM documents),
         |tk AS (SELECT source, w FROM tok WHERE w <> ''),
         |cnt AS (SELECT source, w, count(*) AS c FROM tk GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
         |freq AS (SELECT cnt.source, w, ${OracleSql.ppmSql("c", "n")} AS f
         |   FROM cnt JOIN tot ON cnt.source = tot.source),
         |sumf AS (SELECT source, CAST(sum(f) AS BIGINT) AS sum_f FROM freq GROUP BY 1),
         |shared AS (SELECT x.source AS src_a, y.source AS src_b,
         |   count(*) AS shared_tokens,
         |   CAST(sum(CASE WHEN x.f + y.f = 0 THEN 0
         |     ELSE (x.f - y.f) * (x.f - y.f) // (x.f + y.f) END) AS BIGINT) AS chi2_shared,
         |   CAST(sum(x.f) AS BIGINT) AS shared_fa,
         |   CAST(sum(y.f) AS BIGINT) AS shared_fb
         |   FROM freq x JOIN freq y ON x.w = y.w AND x.source < y.source
         |   GROUP BY 1, 2)
         |SELECT src_a, src_b, shared_tokens,
         |  chi2_shared + (sfa.sum_f - shared_fa) + (sfb.sum_f - shared_fb) AS chi2_ppm
         |FROM shared JOIN sumf sfa ON sfa.source = shared.src_a
         |            JOIN sumf sfb ON sfb.source = shared.src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "q25_doc_stats" ->
      s"""SELECT doc_id, lang, source,
         | length(text) AS n_chars_m,
         | CASE WHEN length(trim(text))=0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '${Det.WsClass}+')) END AS n_tokens,
         | len(list_distinct(string_split_regex(trim(text), '${Det.WsClass}+'))) AS n_distinct_tokens,
         | length(regexp_replace(text, '${Det.WsClass}', '', 'g')) AS token_chars,
         | length(regexp_replace(text, '[a-z0-9${Det.WsChars}]', '', 'g')) AS punct_chars,
         | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9${Det.WsChars}]')) AS bpe_tokens,
         | len(list_filter(string_split_regex(trim(text), '${Det.WsClass}+'),
         |     x -> x IN (${inList(LangProfiles.head._2)}))) AS stop_hits,
         | CASE WHEN (CASE WHEN length(trim(text))=0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '${Det.WsClass}+')) END) > 0
         |  THEN CAST(round(len(list_filter(string_split_regex(trim(text), '${Det.WsClass}+'),
         |     x -> x IN (${inList(LangProfiles.head._2)}))) * 1000.0 /
         |     len(string_split_regex(trim(text), '${Det.WsClass}+'))) AS BIGINT)
         |  ELSE 0 END AS quality_milli
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_doc_langid" ->
      s"""WITH $langPredCtes
         |SELECT doc_id, lang, predicted,
         | CAST(predicted = lang AS BIGINT) AS is_match,
         | h_en, h_de, h_es, h_fr, h_zh
         |FROM lpred ORDER BY doc_id""".stripMargin,
    "q27_doc_fingerprint" ->
      s"""SELECT doc_id, any_value(n_chars) AS n_chars,
         | CAST(sum((CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % $HashMod)
         |   * (CASE (i-1) % 5 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961
         |      WHEN 3 THEN 29791 ELSE 923521 END)) % $FpMod AS BIGINT) AS fp
         |FROM (
         | SELECT doc_id, n_chars,
         |  unnest(string_split_regex(trim(text), '${Det.WsClass}+')) AS w,
         |  generate_subscripts(string_split_regex(trim(text), '${Det.WsClass}+'), 1) AS i
         | FROM documents)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q75_pmi_pairs" ->
      s"""WITH toks AS (
         | SELECT DISTINCT doc_id, tok FROM (
         |  SELECT doc_id,
         |   unnest(${Det.wordsSql("text")}) AS tok
         |  FROM documents) WHERE length(tok) > 0),
         |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
         |vocab AS (SELECT tok, df FROM dfreq
         |          ORDER BY df DESC, tok LIMIT $PmiVocab),
         |tv AS (SELECT t.doc_id, t.tok, v.df
         |       FROM toks t JOIN vocab v USING (tok)),
         |tot AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (
         | SELECT x.tok AS a, y.tok AS b, x.df AS df_a, y.df AS df_b,
         |  count(*) AS c_ab
         | FROM tv x JOIN tv y ON x.doc_id = y.doc_id AND x.tok < y.tok
         | GROUP BY 1, 2, 3, 4)
         |SELECT a, b, c_ab, df_a, df_b,
         | CAST(round(1000000.0 * c_ab * n_docs / (df_a * df_b)) AS BIGINT)
         |   AS lift_ppm
         |FROM pairs CROSS JOIN tot
         |ORDER BY c_ab DESC, a, b LIMIT 100""".stripMargin,
    "q77_bigram_lm" ->
      s"""WITH toks AS (
        | SELECT doc_id,
        |  ${Det.wordsSql("text")} AS ts
        | FROM documents),
        |bi AS (
        | SELECT ts[i] AS a, ts[i+1] AS b
        | FROM toks, UNNEST(range(1, len(ts))) AS t(i)),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a
        |       FROM cab GROUP BY 1)
        |SELECT a, b, c_ab, c_a, ${OracleSql.ppmSql("c_ab", "c_a")} AS cond_ppm
        |FROM cab JOIN ca USING (a)
        |ORDER BY c_ab DESC, a, b LIMIT 100""".stripMargin,
    "q95_bpe_merges" -> bpeOracle,
    "q96_bpe_tokenize" -> bpeTokenizeOracle,
    "q98_lm_fluency" ->
      s"""WITH toks AS (
         | SELECT doc_id, ${Det.wordsSql("text")} AS ts FROM documents),
         |bi AS (
         | SELECT doc_id, ts[i] AS a, ts[i+1] AS b
         | FROM toks, UNNEST(range(1, len(ts))) AS t(i)),
         |cab AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
         |ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a
         |       FROM cab GROUP BY 1),
         |sc AS (
         | SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(${OracleSql.ppmSql("c_ab", "c_a")}) AS BIGINT) AS sum_ppm
         | FROM bi JOIN cab USING (a, b) JOIN ca USING (a)
         | GROUP BY doc_id)
         |SELECT d.doc_id,
         | coalesce(n_bigrams, 0) AS n_bigrams,
         | CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0
         |      ELSE sum_ppm // n_bigrams END AS lm_mean_ppm,
         | CAST(coalesce(CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0
         |      ELSE sum_ppm // n_bigrams END, 0) >= $LmKeepPpmMin
         |   AS BIGINT) AS lm_keep
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q89_vocab_growth" ->
      s"""WITH ft AS (
         | SELECT tok, min(doc_id) AS first_doc FROM (
         |  SELECT doc_id,
         |   unnest(list_distinct(string_split_regex(trim(text), '${Det.WsClass}+')))
         |     AS tok
         |  FROM documents) t
         | WHERE len(tok) > 0 GROUP BY tok),
         |b AS (SELECT first_doc // $VocabBucket AS bucket,
         |      count(*) AS new_tokens FROM ft GROUP BY 1)
         |SELECT bucket, new_tokens,
         | CAST(sum(new_tokens) OVER (ORDER BY bucket
         |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM b ORDER BY bucket""".stripMargin,
    "q145_token_coverage" ->
      s"""WITH toks AS (
         | SELECT tok FROM (
         |  SELECT unnest(${Det.wordsSql("text")}) AS tok FROM documents) t
         | WHERE len(tok) > 0),
         |c AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM c),
         |top AS (SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT $CoverageVocabCap),
         |r AS (SELECT tok, n,
         |   CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank,
         |   CAST(sum(n) OVER (ORDER BY n DESC, tok
         |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |   FROM top),
         |th AS (SELECT CAST(unnest([${CoverageThresholdsPpm.mkString(", ")}]) AS BIGINT) AS thr_ppm),
         |reached AS (
         |  SELECT thr_ppm,
         |   CAST(min(rank) AS BIGINT) AS vocab_size,
         |   CAST(min(cum) AS BIGINT) AS covered_tokens
         |  FROM r CROSS JOIN tot CROSS JOIN th
         |  WHERE CAST(cum AS HUGEINT) * 1000000 >= CAST(thr_ppm AS HUGEINT) * total_tokens
         |  GROUP BY thr_ppm)
         |SELECT thr_ppm, vocab_size, covered_tokens, total_tokens
         |FROM th CROSS JOIN tot LEFT JOIN reached USING (thr_ppm)
         |ORDER BY thr_ppm""".stripMargin,
    "q157_context_lift" -> {
      // pN CTEs generated from CtxRadius (the q146 lag-CTE rule): a
      // radius change updates both engines or neither.
      val pCtes = (1 to CtxRadius).map(k =>
        s"""p$k AS (SELECT ts[i] AS w1, ts[i+$k] AS w2
           |  FROM t, UNNEST(range(1, len(ts) - ${k - 1})) AS s(i))""".stripMargin)
        .mkString(",\n")
      val dpArms = (1 to CtxRadius).map(k =>
        s"SELECT w1, w2 FROM p$k UNION ALL SELECT w2, w1 FROM p$k")
        .mkString("\n |  UNION ALL ")
      s"""WITH t AS (SELECT ${Det.wordsSql("text")} AS ts FROM documents),
         |$pCtes,
         |dp AS ($dpArms),
         |cab AS (SELECT w1, w2, count(*) AS n_pair FROM dp GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM cab),
         |ca AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c_a FROM cab GROUP BY 1),
         |cb AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS c_b FROM cab GROUP BY 1),
         |l AS (SELECT w1, w2, n_pair,
         |  n_pair * n * 1000 // (c_a * c_b) AS lift_milli
         |  FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN tot
         |  WHERE n_pair >= $CtxMinPair),
         |r AS (SELECT w1, w2, n_pair, lift_milli,
         |  row_number() OVER (ORDER BY lift_milli DESC, w1, w2) AS rank FROM l)
         |SELECT CAST(rank AS BIGINT) AS rank, w1, w2,
         | CAST(n_pair AS BIGINT) AS n_pair, CAST(lift_milli AS BIGINT) AS lift_milli
         |FROM r WHERE rank <= $CtxTopK ORDER BY rank""".stripMargin
    }
  )
}
