package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions._
import graft.sources.Tables

/** F-family text analysis + C1 cleaning, over `documents`. These are
  * the per-document scoring passes an LLM-training-data pipeline runs
  * before dedup/filtering. Every query is a single narrow projection —
  * per-row column DSL, no shuffle except the trivial final aggregation
  * where present — so at 100 TB they stream at scan speed with full
  * codegen.
  */
object TextAnalysis {

  /** The family's ONE BPE-ish token-count rule (F3's `re_tokens`:
    * letter runs / digit runs / single non-space symbol) — every
    * token-budget consumer (F3/F12/F14/F16/F24/F28…) derives from
    * this single definition so the rules can never drift. */
  private[graft] def reTokenCount: Column =
    size(regexp_extract_all(col("text"),
      lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast(LongType)

  /** Stopword profiles for F1 language ID (the classic n-gram/stopword
    * heuristic; fixed tiny profiles keep the oracle replayable). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "en"),
    "de" -> Seq("der", "die", "und", "das", "mit"),
    "fr" -> Seq("le", "les", "une", "et", "dans"))

  /** F1's CJK evidence: the count of CJK Unified Ideograph code
    * points (U+4E00–U+9FFF) in the text. Stopword lists cannot see
    * Chinese — it does not whitespace-segment, so no word-list leg
    * ever fires — but SCRIPT-range counting is the standard cheap
    * detector for it, and it competes on the same argmax: any
    * genuinely CJK document carries hundreds of ideographs against a
    * handful of incidental latin stopword hits. Zero for pure-latin
    * text, so the latin-language behavior is untouched. */
  private def cjkCount: org.apache.spark.sql.Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", "")))
      .cast(LongType)

  /** C1 — the reference's `clean_text_content` regex pipeline
    * (reference: src/core/database/processor.py:153), run over every
    * document exactly as the reference runs it over every message
    * before embedding. */
  def textClean(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), cleanText(col("text")).as("cleaned"))

  /** F1 — stopword-profile language ID plus the CJK script leg:
    * count profile hits (and ideographs) per language, argmax with a
    * fixed priority order on ties. */
  def langId(t: Tables): DataFrame = {
    val ws = words(col("text"))
    val counts = stopwords.map { case (lang, stops) =>
      lang -> stopwordCount(ws, stops)
    }
    t.documents.select(
      col("doc_id"),
      counts.head._2.as("c_en"),
      counts(1)._2.as("c_es"),
      counts(2)._2.as("c_de"),
      counts(3)._2.as("c_fr"),
      cjkCount.as("c_zh"),
      langPredExpr.as("lang_pred"))
  }

  /** F1's predicted-language column over `text` — first language in
    * declaration order attaining the max evidence count: the four
    * stopword profiles, then zh's [[cjkCount]] LAST, so an
    * all-zero-evidence doc still ties to 'en' and latin-script
    * predictions are byte-identical to the pre-CJK rule (the
    * oracle's CASE chain mirrors this exactly). Shared by [[langId]],
    * the confusion matrix and the per-source profile so the three
    * can never drift. */
  private[graft] def langPredExpr: org.apache.spark.sql.Column = {
    val ws = words(col("text"))
    val counts = stopwords.map { case (lang, stops) =>
      lang -> stopwordCount(ws, stops)
    } :+ ("zh" -> cjkCount)
    val best = greatest(counts.map(_._2): _*)
    counts.init.foldRight(lit(counts.last._1): org.apache.spark.sql.Column) {
      case ((lang, cnt), els) => when(cnt === best, lang).otherwise(els)
    }
  }

  /** The F2 composite quality over a `text` column, rounded to 6 dp —
    * the ONE definition [[qualityScore]] and [[selectBudget]] both
    * rank by (all ratios exact-integer divisions so both engines
    * produce bit-identical doubles; empty text yields NULL via the
    * nullif guards, not a Spark-NaN-vs-DuckDB-inf parity break).
    * Visible graft-wide so the streaming data card folds the SAME
    * micro-unit quality rule (StreamingDataCard). */
  private[graft] def qualityExpr: org.apache.spark.sql.Column = {
    val ws = words(col("text"))
    val nWords = size(ws).cast(LongType)
    val nChars = length(col("text")).cast(LongType)
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast(LongType)
    val nStop = stopwordCount(ws, stopwords.head._2)
    val punctRatio = nPunct.cast("double") / nullif(nChars.cast("double"), lit(0.0))
    val stopRatio = nStop.cast("double") / nullif(nWords.cast("double"), lit(0.0))
    round(
      lit(0.4) * least(lit(1.0), nWords.cast("double") / 50.0) +
        lit(0.3) * (lit(1.0) - punctRatio) +
        lit(0.3) * least(lit(1.0), stopRatio * 5.0), 6)
  }

  /** F2 — document quality scoring: length, punctuation density,
    * stopword density, composite ([[qualityExpr]]). */
  def qualityScore(t: Tables): DataFrame = {
    val ws = words(col("text"))
    val nWords = size(ws).cast(LongType)
    val nChars = length(col("text")).cast(LongType)
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast(LongType)
    val nStop = stopwordCount(ws, stopwords.head._2)
    val punctRatio = nPunct.cast("double") / nullif(nChars.cast("double"), lit(0.0))
    val stopRatio = nStop.cast("double") / nullif(nWords.cast("double"), lit(0.0))
    t.documents.select(
      col("doc_id"), nWords.as("n_words"), nChars.as("n_chars_m"),
      round(punctRatio, 6).as("punct_ratio"),
      round(stopRatio, 6).as("stop_ratio"),
      qualityExpr.as("quality"))
  }

  /** F3 — token counting: whitespace tokens and a BPE-ish regex
    * lexer (letter runs / digit runs / single non-space symbol), the
    * standard cheap token estimate for budget accounting. */
  def tokenCount(t: Tables): DataFrame = {
    val wsTokens = size(words(col("text"))).cast(LongType)
    val reTokens = reTokenCount
    t.documents.select(
      col("doc_id"), wsTokens.as("ws_tokens"), reTokens.as("re_tokens"),
      round(length(col("text")).cast("double")
        / nullif(reTokens.cast("double"), lit(0.0)), 6).as("chars_per_token"))
  }

  /** F28 — `q_token_fertility`: the tokenizer-FIT audit per (source,
    * lang) slice: doc count, exact code-point / UTF-8-byte / token
    * volume totals and the derived efficiency ratios — bytes/token,
    * chars/token, and FERTILITY (subword tokens per whitespace word,
    * the published cross-language tokenizer-efficiency metric: the
    * XLM-R/BLOOM tokenizer analyses report exactly this to show a
    * tokenizer trained on one language mix fragments another's words
    * into more pieces). The table a pipeline reads before trusting
    * F3's budget estimates across a multilingual corpus — a slice
    * whose fertility is 2× the corpus mean pays 2× the context
    * length for the same text, which reprices every token-budget
    * decision (F12 packing, F13 mixing, F14 selection) on that
    * slice.
    *
    * Spark shape: one per-row projection (all four measures from the
    * family's ONE rules — [[reTokenCount]], F3's whitespace split,
    * code-point `length`, `octet_length`) into a map-side-combining
    * agg on (source, lang) — ≤ |sources|·|langs| rows. Every ratio
    * is ONE IEEE division of two exact integer totals, 6dp — order-
    * independent, engine-exact. Zero shuffle risk at any corpus
    * size. */
  def tokenFertility(t: Tables): DataFrame = {
    t.documents
      .select(col("source"), col("lang"),
        length(col("text")).cast(LongType).as("nc"),
        octet_length(col("text")).cast(LongType).as("nb"),
        size(words(col("text"))).cast(LongType).as("nw"),
        reTokenCount.as("nt"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("bytes"), sum(col("nc")).as("chars"),
        sum(col("nw")).as("ws_tokens"), sum(col("nt")).as("re_tokens"))
      .select(col("source"), col("lang"), col("n_docs"),
        col("bytes"), col("chars"), col("ws_tokens"), col("re_tokens"),
        round(col("bytes").cast("double")
          / nullif(col("re_tokens").cast("double"), lit(0.0)), 6)
          .as("bytes_per_token"),
        round(col("chars").cast("double")
          / nullif(col("re_tokens").cast("double"), lit(0.0)), 6)
          .as("chars_per_token"),
        round(col("re_tokens").cast("double")
          / nullif(col("ws_tokens").cast("double"), lit(0.0)), 6)
          .as("fertility"))
      .orderBy(col("source"), col("lang"))
  }

  /** F4 — winnowing-style document fingerprint: the minimum md5 over
    * the document's word-3-gram shingles (md5 hex compares identically
    * in both engines, SURVEY.md §4). */
  def fingerprint(t: Tables): DataFrame = {
    val sh = shingles3(words(col("text")))
    t.documents.select(
      col("doc_id"),
      size(sh).cast(LongType).as("n_shingles"),
      array_min(transform(sh, s => md5(s))).as("fingerprint"))
  }

  /** F5 — `q_sample_split`: deterministic, stratified train/test
    * assignment — the split every training pipeline needs to be
    * REPRODUCIBLE and shuffle-free at any scale. Each doc hashes to a
    * bucket via the first two hex chars of a salted md5 (256 buckets;
    * '00'-'cc' = 205/256 ≈ 80% train), so assignment is a pure
    * per-row projection: no sampling state, no RNG, no shuffle, and
    * re-running on a grown corpus never reassigns an existing doc.
    * Output is the per-source stratum audit (train/test counts +
    * ratio) a pipeline logs before training. */
  def sampleSplit(t: Tables): DataFrame = {
    val bucket = substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 2)
    val split = when(bucket < "cd", "train").otherwise("test")
    t.documents
      .select(col("source"), split.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** F7 — `q_mix_sources`: deterministic dataset mixing — per-source
    * subsampling to target weights, the operation that turns raw
    * corpora into a training mix. Each source's target rate derives
    * from its numeric suffix (quarter steps 0.25-1.0 here; in
    * production a broadcast weights table), and keep/drop is the same
    * salted-md5 bucket test as the train/test split — per-row, no
    * RNG, append-stable, shuffle-free until the final audit rollup.
    * Output is the per-source audit: totals, kept, achieved vs
    * target rate. */
  def mixSources(t: Tables): DataFrame = {
    // nullif: regexp_extract yields "" for a source with no trailing
    // digits, and ANSI-mode cast('') throws — an unknown source name
    // must degrade to the keep-all bucket (rate 1.0), not abort the
    // query; the oracle carries the same NULLIF/COALESCE chain
    val srcNum = nullif(regexp_extract(col("source"), "([0-9]+)$", 1), lit(""))
      .cast(LongType)
    val rateIdx = pmod(coalesce(srcNum, lit(3L)), lit(4L))
    val bucket = substring(md5(concat(lit("mix:"),
      col("doc_id").cast("string"))), 1, 2)
    val threshold = when(rateIdx === 0, "40") // 64/256  = 0.25
      .when(rateIdx === 1, "80")              // 128/256 = 0.50
      .otherwise("c0")                        // 192/256 = 0.75
    val keep = rateIdx === 3 || bucket < threshold
    t.documents
      .select(col("source"), rateIdx.as("ri"), keep.as("keep"))
      .groupBy(col("source"), col("ri"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_total"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_total").cast("double"), 6)
          .as("achieved_rate"),
        ((col("ri") + 1).cast("double") / 4.0).as("target_rate"))
  }

  /** F10 — `q_text_chunks`: overlapping fixed-window text chunking —
    * how documents become training-context rows (window 256 chars,
    * stride 192, 64-char overlap so no boundary content is lost to
    * truncation). One sequence explode + per-row substr, no shuffle:
    * scan-speed at 100 TB, and chunk rows stay in their reader's
    * partition (same locality contract as the media chunking). The
    * final chunk is the remainder; every doc emits at least one
    * chunk. */
  def textChunks(t: Tables): DataFrame = {
    val window = 256
    val stride = 192
    val nChars = length(col("text")).cast(LongType)
    // chunks start at 0, stride, 2*stride, ... while start < nChars
    val lastStart = (ceil(nChars / lit(stride.toDouble)) - 1).cast(LongType) *
      stride
    t.documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), nChars.as("n_chars"),
        explode(sequence(lit(0L), lastStart, lit(stride.toLong))).as("start"))
      .select(col("doc_id"), col("start"),
        substring(col("text"), (col("start") + 1).cast("int"), lit(window))
          .as("chunk"),
        least(lit(window.toLong), col("n_chars") - col("start"))
          .as("chunk_chars"))
  }

  /** F9 — `q_pipeline_e2e`: the library's stages composed into the
    * canonical training-data pipeline — quality filter → repetition
    * gate (F11: boilerplate/looping text the length-based score
    * misses) → 13-gram decontamination (E7b: drop training docs
    * sharing a verbatim 13-word span with the eval corpus) → exact
    * dedup (keep the canonical doc per content hash) → deterministic
    * train/test split → per-(source, split) audit. One DataFrame
    * program, so Catalyst plans ACROSS stage boundaries, and every
    * gate's verdict attaches to its doc in ONE doc-keyed pass
    * ([[gateFlags]]).
    * This is the "switch to graft and run your pipeline" story
    * end-to-end, and the oracle replays every stage in SQL, so the
    * composition — not just the pieces — is correctness-checked.
    *
    * [[pipelineKeptDocs]] is the pipeline's KEPT-DOCUMENT frame
    * (doc_id, source, split) — the thing a pipeline actually ships;
    * F9 aggregates it to the audit table and H1's export writes it
    * (with its text, [[pipelineKeptText]]) to partitioned storage. */
  private[graft] def pipelineKeptDocs(t: Tables): DataFrame =
    pipelineKeptText(t).select(col("doc_id"), col("source"), col("split"))

  /** [[pipelineKeptDocs]] plus each kept doc's `text`, carried through
    * the gates — an export writes it without joining the corpus again. */
  private[graft] def pipelineKeptText(t: Tables): DataFrame =
    pipelineKeptFrom(t.documents.select(col("doc_id"), col("source"),
      col("text"), qualityExpr.as("quality")))
      .select(col("doc_id"), col("source"), col("text"), col("split"))

  /** The pipeline's surviving doc rows of `docs` (doc_id, source,
    * text, plus any column the caller carries) with `split` appended.
    * The F2 `quality` the first gate reads comes from `docs` or from
    * one of the `extra` per-doc frames — the shared-scan seam for a
    * composition that scores the corpus once for another consumer too
    * (H3's curriculum export attaches its F26 bucket rows, which carry
    * the quality, here). Exact dedup keeps the smallest surviving
    * doc_id per normalized-text hash: one window keyed on the hash,
    * where a groupBy plus a join back on doc_id would need the gated
    * rows twice (and so a pin). */
  private[graft] def pipelineKeptFrom(docs: DataFrame,
      extra: DataFrame*): DataFrame = {
    val bucket = substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 2)
    gateFlags(docs, extra: _*)
      .filter(col("q_ok") && !col("rep") && !col("contam"))
      .withColumn("canon", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("canon"))
      .withColumn("split", when(bucket < "cd", "train").otherwise("test"))
      .drop("h", "q_ok", "rep", "contam", "canon")
  }

  /** The pipeline's per-doc gate flags, ONE row per doc row of `docs`:
    * its columns, `h` (md5 of the whitespace-normalized lowercase text,
    * the exact-dedup key), each `extra` frame's columns, and the three
    * gate verdicts — q_ok (F2 quality ≥ 0.5), rep (F11 flags it)
    * and contam (it is the train side of an E7b 13-gram match). The
    * two token gates' flagged ids attach in the same doc-keyed
    * union-and-aggregate as the extra frames ([[attachByDoc]]) instead
    * of a join per gate. Each gate reads the corpus once: the
    * repetition gate through its token rows, the 13-gram gate through
    * each doc's word array. */
  private def gateFlags(docs: DataFrame, extra: DataFrame*): DataFrame = {
    val repeated = repetitionStats(posTokens(docs)).filter(col("flagged"))
      .select(col("doc_id"), lit(true).as("rep"))
    val contaminated = Dedup.ngramContaminated(docs)
      .select(col("doc_id"), lit(true).as("contam"))
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    attachByDoc(docs.withColumn("h", md5(norm)),
      (repeated +: contaminated +: extra): _*)
      .withColumn("q_ok", coalesce(col("quality") >= 0.5, lit(false)))
      .withColumn("rep", coalesce(col("rep"), lit(false)))
      .withColumn("contam", coalesce(col("contam"), lit(false)))
  }

  /** `docs` (one row per doc_id) with the columns of every `flags`
    * frame attached by doc_id — what a chain of left joins on doc_id
    * gives, computed as ONE union and ONE groupBy(doc_id): a doc that
    * a frame does not name gets NULLs there. A frame may repeat a
    * doc_id only with equal values (the max of equal values is the
    * value). */
  private def attachByDoc(docs: DataFrame, flags: DataFrame*): DataFrame = {
    val frames = docs.withColumn("_doc", lit(true)) +: flags
    val fields = frames.flatMap(_.schema.fields)
      .filter(_.name != "doc_id").distinctBy(_.name)
    frames.map { f =>
      f.select(col("doc_id") +: fields.map(c =>
        if (f.columns.contains(c.name)) col(c.name)
        else lit(null).cast(c.dataType).as(c.name)): _*)
    }.reduce(_ union _)
      .groupBy(col("doc_id"))
      .agg(max(col(fields.head.name)).as(fields.head.name),
        fields.tail.map(c => max(col(c.name)).as(c.name)): _*)
      .filter(col("_doc"))
      .drop("_doc")
  }

  def pipelineE2e(t: Tables): DataFrame =
    pipelineKeptDocs(t)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))

  /** F25 — `q_pipeline_funnel`: the ATTRITION table for the composed
    * pipeline — per stage (quality gate → repetition gate → 13-gram
    * decontamination → exact dedup), how many docs went in, came
    * out, were dropped, and the drop share. The funnel is the first
    * table anyone reads about a cleaning run (Dolma/RefinedWeb
    * publish exactly this), and the monitoring row that catches a
    * mis-tuned gate (a stage suddenly dropping 60% fires an alert
    * long before downstream evals move). Stage semantics are
    * SEQUENTIAL — a doc counts against the FIRST stage that drops it
    * — so n_out(k) ≡ the composed pipeline's intermediate
    * cardinality, and stage 4's survivors are exactly F9's kept docs
    * (the spec pins that identity).
    *
    * Shape: the F9 composition verbatim — the same per-doc gate
    * flags ([[gateFlags]]: quality scored in the projection that
    * hashes the text, both token gates attached in one doc-keyed
    * pass), then ONE aggregate to a single row, exploded into 4
    * stage rows (the explode-unpivot-computes-once rule,
    * BENCH_BASELINE #4). Exact dedup keeps one doc per distinct hash
    * among the stage-3 survivors, so n4 is their distinct-hash count
    * (a NULL hash — NULL text — is one group, as in F9's window). */
  def pipelineFunnel(t: Tables): DataFrame = {
    val flags = gateFlags(t.documents.select(col("doc_id"), col("source"),
      col("text"), qualityExpr.as("quality")))
    val s2 = col("q_ok") && !col("rep")
    val s3 = s2 && !col("contam")
    val one = flags.agg(
      count(lit(1)).as("n0"),
      coalesce(sum(when(col("q_ok"), 1L)), lit(0L)).as("n1"),
      coalesce(sum(when(s2, 1L)), lit(0L)).as("n2"),
      coalesce(sum(when(s3, 1L)), lit(0L)).as("n3"),
      countDistinct(when(s3, coalesce(col("h"), lit("")))).as("n4"))
    val stages = one.select(explode(array(
      struct(lit(1).as("stage"), lit("quality_gate").as("stage_name"),
        col("n0").as("n_in"), col("n1").as("n_out")),
      struct(lit(2).as("stage"), lit("repetition_gate").as("stage_name"),
        col("n1").as("n_in"), col("n2").as("n_out")),
      struct(lit(3).as("stage"), lit("decontaminate").as("stage_name"),
        col("n2").as("n_in"), col("n3").as("n_out")),
      struct(lit(4).as("stage"), lit("exact_dedup").as("stage_name"),
        col("n3").as("n_in"), col("n4").as("n_out")))).as("s"))
    stages.select(col("s.stage").as("stage"),
        col("s.stage_name").as("stage_name"),
        col("s.n_in").as("n_in"), col("s.n_out").as("n_out"),
        (col("s.n_in") - col("s.n_out")).as("dropped"),
        round(coalesce((col("s.n_in") - col("s.n_out")).cast("double") /
          nullif(col("s.n_in").cast("double"), lit(0.0)), lit(0.0)), 6)
          .as("drop_share"))
      .orderBy(col("stage"))
  }

  /** F8 — `q_tfidf`: corpus-wide TF-IDF term scoring — the term-
    * importance statistic quality filters and keyword extraction run
    * over a training corpus. Three aggregations, each map-side
    * combining: term frequency per (doc, term), document frequency
    * per term over the tf rows (already distinct doc-term pairs —
    * no second distinct pass), and the 1-row corpus size, which
    * cross-broadcasts like a scalar subquery so the fact side never
    * reshuffles for it. The tf⋈df join shuffles on the term — at
    * 100 TB the vocabulary is itself large, so a shuffle join (not a
    * forced broadcast) is the right default; AQE will broadcast a
    * small vocabulary on its own. idf = ln(N/df), rounded to 6 dp
    * with the product so libm-vs-JVM 1-ulp log differences cannot
    * surface. */
  def tfidf(t: Tables): DataFrame = {
    val tok = t.documents
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = t.documents.agg(count(lit(1)).as("n"))
    tf.join(dfreq, "w")
      .join(broadcast(n))
      .select(col("doc_id"), col("w"), col("tf"), col("df"),
        round(col("tf") * log(col("n").cast("double") / col("df").cast("double")),
          6).as("tfidf"))
  }

  /** F6 — `q_redact_pii`: email/phone scrubbing, the standard
    * pre-training redaction pass. The documents corpus is synthetic
    * (no planted PII), so a deterministic contact suffix is appended
    * to a slice of docs first — both engines construct and then
    * redact identically, which oracle-checks the REDACTION rules, not
    * the data. Per-row regex projection; scan-speed at 100 TB. */
  def redactPii(t: Tables): DataFrame = {
    val idS = col("doc_id").cast("string")
    val withPii =
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), idS,
          lit("@example.com or +1 (555) 010-"), idS))
        .when(col("doc_id") % 5 === 2,
          concat(col("text"), lit(" mail to a.b+c"), idS, lit("@mail.co")))
        .otherwise(col("text"))
    val emailRe = "[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+[0-9][0-9()\\-\\s]{7,}[0-9]"
    val nEmails = size(regexp_extract_all(withPii, lit(emailRe), lit(0)))
      .cast(LongType)
    val nPhones = size(regexp_extract_all(withPii, lit(phoneRe), lit(0)))
      .cast(LongType)
    t.documents.select(
      col("doc_id"),
      regexp_replace(regexp_replace(withPii, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]").as("redacted"),
      nEmails.as("n_emails"),
      nPhones.as("n_phones"))
  }

  /** F11 — `q_repetition`: repetition-based quality signals — the
    * Gopher/C4-style filters that catch boilerplate and degenerate
    * (looping) text, which length/stopword scores (F2) miss entirely:
    * duplicate-word fraction (1 − distinct/total), most-frequent-word
    * fraction, and most-frequent-BIGRAM fraction (the classic
    * "top n-gram share" rule; a generation loop or a repeated
    * template phrase drives it toward 1 while leaving word-level
    * stats plausible). A doc is flagged when dup_word_frac > 0.85 or
    * top_bigram_frac > 0.18 (Gopher-magnitude thresholds).
    *
    * Shape: tokens explode once; bigrams come from one `lead` over
    * the same (doc_id, pos) window the shingle pipeline uses; counts
    * are two-level map-side-combining aggregates keyed on
    * (doc_id, token) then doc_id — every stage hash-partitions on
    * doc-derived keys, so the pass is scan-proportional at 100 TB
    * with no skew beyond document length. The oracle replays the
    * counts with DuckDB list algebra over the same token list. */
  def repetition(t: Tables): DataFrame =
    repetitionStats(posTokens(t.documents)).orderBy(col("doc_id"))

  /** The repetition gate's positional token rows: ONE corpus read +
    * tokenize → (doc_id, pos, w). */
  private def posTokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "w")))

  /** F11 over an already-tokenized frame; unordered (the standalone
    * row adds the sort). Words and bigrams count in ONE aggregation
    * chain: each token row unpivots into its word unit and (when it
    * has a successor) its bigram unit, and every stage keys on
    * doc_id first, so the bigram window's one exchange by doc_id
    * serves all of it — a doc without bigrams gets NULL bigram
    * counts, as the left join of two separate chains gave. */
  private[operators] def repetitionStats(tokens: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val units = tokens
      .select(col("doc_id"), col("w"),
        concat_ws(" ", col("w"), lead(col("w"), 1).over(w)).as("bg"),
        lead(col("w"), 1).over(w).isNotNull.as("has_bg"))
      .select(col("doc_id"), col("has_bg"), explode(array(
        struct(lit(0).as("kind"), col("w").as("unit")),
        struct(lit(1).as("kind"), col("bg").as("unit")))).as("u"))
      .filter(col("u.kind") === 0 || col("has_bg"))
      .select(col("doc_id"), col("u.kind").as("kind"), col("u.unit").as("unit"))
    def of(kind: Int, c: org.apache.spark.sql.Column) = when(col("kind") === kind, c)
    val stats = units
      .groupBy(col("doc_id"), col("kind"), col("unit")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(of(0, col("c"))).cast(LongType).as("n_words"),
        count(of(0, lit(1))).cast(LongType).as("n_distinct"),
        max(of(0, col("c"))).as("top_word_c"),
        sum(of(1, col("c"))).as("n_bigrams"),
        max(of(1, col("c"))).as("top_bigram_c"))
    val dupFrac = round(lit(1.0) -
      col("n_distinct").cast("double") / col("n_words").cast("double"), 6)
    val topWordFrac = round(
      col("top_word_c").cast("double") / col("n_words").cast("double"), 6)
    val topBigramFrac = round(coalesce(
      col("top_bigram_c").cast("double") / col("n_bigrams").cast("double"),
      lit(0.0)), 6)
    stats
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        dupFrac.as("dup_word_frac"),
        topWordFrac.as("top_word_frac"),
        topBigramFrac.as("top_bigram_frac"))
      .withColumn("flagged",
        (col("dup_word_frac") > 0.85 || col("top_bigram_frac") > 0.18)
          .cast("boolean"))
  }

  /** F13 — `q_mix_temperature`: temperature-scaled source sampling
    * weights — the mT5/PaLM multi-source rebalance rule
    * w_i = p_i^α ⁄ Σ_j p_j^α (α = 0.3), where p_i is source i's
    * natural token share. Low-resource sources are boosted, dominant
    * ones damped; `boost` = w_i ⁄ p_i is the over/under-sampling
    * factor (≡ effective epochs over the source at a fixed token
    * budget). The audit a pipeline logs before building a mixture.
    *
    * Shape: ONE map-side-combining aggregate pass over the corpus
    * (per-source doc/token totals), then all remaining arithmetic on
    * the ~|sources| rows with two 1-row broadcast totals — nothing
    * after the first aggregate grows with the corpus. Parity: the
    * normalization sum Σ p^α is over DOUBLES whose addition order
    * Spark does not fix, so each p^α is first quantized to integer
    * MICRO-units (round(p^α·10⁶) as long) and the longs are summed —
    * order-independent and engine-exact; every output double then
    * derives from exact integers through identical IEEE ops. */
  def mixTemperature(t: Tables): DataFrame =
    temperatureMicro(t)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p"), 6).as("p_natural"),
        round(col("micro") / col("mtot"), 6).as("w_temp"),
        round((col("micro") / col("mtot")) / col("p"), 6).as("boost"))
      .orderBy(col("source"))

  /** F13/F31's shared temperature-weight stage: per source —
    * (n_docs, n_tokens, tot, p, micro, mtot), where micro is the
    * p^0.3 weight in integer micro-units (order-independent,
    * engine-exact) and tot/mtot ride along as 1-row cross-broadcast
    * totals. ONE definition so the mixing audit and the epoch plan
    * can never disagree about a weight. The identical per-source
    * aggregate subtree under both total branches collapses to one
    * exchange via AQE ReusedExchange. */
  private def temperatureMicro(t: Tables): DataFrame = {
    val alpha = 0.3
    val per = t.documents.select(col("source"), reTokenCount.as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    val m = per.join(broadcast(tot))
      .withColumn("p", col("n_tokens") / col("tot"))
      .withColumn("micro",
        round(pow(col("p"), alpha) * 1e6, 0).cast(LongType))
    m.join(broadcast(m.agg(sum(col("micro")).as("mtot"))))
  }

  /** F31 `q_epoch_plan` constants: the token budget as a multiple of
    * the corpus' unique-token total (train 2× the corpus), and the
    * published repetition ceiling — Muennighoff et al. 2023 (*Scaling
    * Data-Constrained Language Models*) find up to ~4 epochs of
    * repeated data nearly as good as fresh; beyond that returns decay
    * rapidly, so a plan caps there and surfaces the deficit. */
  private[graft] val epochBudgetMult = 2L
  private[graft] val epochCap = 4L

  /** F31 — `q_epoch_plan`: the DATA-CONSTRAINED allocation plan — the
    * table a pipeline derives when the token budget exceeds the
    * unique corpus (the data-constrained regime): per source, the
    * temperature-weighted token target (F13's exact weight rule over
    * a budget of [[epochBudgetMult]]× total tokens), the implied
    * repetition in epochs, the allocation after the published
    * [[epochCap]]-epoch ceiling, and the unfillable DEFICIT — the
    * number that says "this mixture wants more of source X than
    * repetition usefully provides" (the signal to re-temper the mix
    * or buy more data).
    *
    * Exactness: the target is (budget · micro) div mtot computed in
    * DECIMAL(38,0)/HUGEINT — exact integer arithmetic at any corpus
    * size (the raw product overflows a long at ~10^13 tokens); the
    * allocation/deficit are exact-long min/subtraction; only the
    * display `epochs` divides, once, at 6dp.
    *
    * Scale shape: F13's stage verbatim (one map-side-combining
    * corpus agg, ≤|sources| rows after), plus pure per-row
    * arithmetic on those rows. */
  def epochPlan(t: Tables): DataFrame =
    temperatureMicro(t)
      .withColumn("target_tokens", expr(
        s"CAST(CAST($epochBudgetMult * tot AS DECIMAL(38,0)) * micro div mtot AS BIGINT)"))
      .withColumn("alloc_tokens",
        least(col("target_tokens"), lit(epochCap) * col("n_tokens")))
      .select(col("source"), col("n_tokens").as("unique_tokens"),
        round(col("micro") / col("mtot"), 6).as("w_temp"),
        col("target_tokens"), col("alloc_tokens"),
        round(col("alloc_tokens").cast("double")
          / col("n_tokens").cast("double"), 6).as("epochs"),
        (col("target_tokens") - col("alloc_tokens")).as("deficit_tokens"))
      .orderBy(col("source"))

  /** F12 — `q_pack_sequences`: the concat-and-chunk packing audit a
    * pretraining pipeline runs before writing training shards — docs
    * ordered by doc_id within each source form one token stream,
    * chunked into fixed `seqLen`-token sequences (docs spanning a
    * boundary continue into the next sequence, GPT-style). Per
    * source: doc/token totals, sequence count, the max number of
    * docs starting in one sequence, how many docs span a boundary,
    * and the overall fill fraction.
    *
    * The core is a PREFIX SUM over the per-source stream — and a
    * single `Window.partitionBy(source)` cumsum is exactly the
    * few-hot-partitions skew SCALING.md §6 measures (source
    * cardinality is tiny; one task per source would sort the world).
    * So the cumsum is TWO-LEVEL: a local cumsum inside bounded
    * (source, shard) windows, plus a cross-shard offset computed by a
    * second cumsum over the small per-shard totals joined back
    * broadcast. Shards come from `repartitionByRange(source, doc_id)`
    * with ⌈n ⁄ 65536⌉ partitions + `spark_partition_id` — range
    * bounds are SAMPLED, so shard count AND size stay bounded for any
    * id distribution (a `doc_id ⁄ k` rule would degenerate on sparse
    * 64-bit ids: one doc per shard, and the cross-shard pass becomes
    * the single hot window again). Range partitions are monotone in
    * (source, doc_id), so shard-then-id order equals id order and the
    * result is boundary-independent — which is also why the sampled
    * (physically nondeterministic) boundaries cannot leak into the
    * answer. Recurse the same trick if per-shard totals ever stop
    * being small. The slim token frame (ids + counts, no text) is
    * eagerly checkpointed because BOTH levels consume it — lazy, the
    * window branch and the shard-totals branch would each rescan the
    * corpus and re-tokenize (the plan audit caught exactly that);
    * the checkpoint also pins the sampled shard assignment so the
    * two consumers cannot disagree on it.
    * The DuckDB oracle replays the semantically identical
    * single-level window cumsum. */
  def packSequences(t: Tables): DataFrame = {
    val seqLen = 2048.0
    val shardSz = 65536L
    val nt = reTokenCount
    val tok0 = t.documents.select(
      col("source"), col("doc_id"), nt.as("nt"))
      .localCheckpoint()
    val nShards = math.max(
      t.documents.sparkSession.sparkContext.defaultParallelism,
      (tok0.count() / shardSz + 1L).toInt)
    val tok = tok0.repartitionByRange(nShards, col("source"), col("doc_id"))
      .withColumn("shard", spark_partition_id().cast(LongType))
      .localCheckpoint()
    val wLocal = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
    val local = tok.withColumn(
      "local_start", sum(col("nt")).over(wLocal) - col("nt"))
    val wShard = Window.partitionBy(col("source")).orderBy(col("shard"))
    val shardOff = tok.groupBy(col("source"), col("shard"))
      .agg(sum(col("nt")).as("st"))
      .select(col("source"), col("shard"),
        (sum(col("st")).over(wShard) - col("st")).as("shard_off"))
    val docs = local
      .join(broadcast(shardOff), Seq("source", "shard"))
      .select(col("source"), col("nt"),
        (col("shard_off") + col("local_start")).as("start"))
      .select(col("source"), col("nt"),
        floor(col("start") / lit(seqLen)).as("bin"),
        (col("nt") > 0 &&
          floor((col("start") + col("nt") - 1) / lit(seqLen)) >
            floor(col("start") / lit(seqLen))).as("spanning"))
    val perSource = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("total_tokens"),
      sum(when(col("spanning"), 1L).otherwise(0L)).as("n_spanning"))
    val maxPerBin = docs.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source")).agg(max(col("c")).as("max_docs_per_seq"))
    perSource.join(maxPerBin, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        ceil(col("total_tokens") / lit(seqLen)).as("n_seqs"),
        col("max_docs_per_seq"), col("n_spanning"),
        round(col("total_tokens") /
          nullif(ceil(col("total_tokens") / lit(seqLen)) * lit(seqLen),
            lit(0.0)), 6).as("fill"))
      .orderBy(col("source"))
  }

  /** F14's selection budget (tokens). A constant so the oracle and
    * the bench measure the same cutoff at every SF; 20k is ~70% of
    * the smallest corpus's tokens, so the cutoff BINDS at every
    * shipped SF (a budget no corpus reaches would make the selection
    * vacuously total). */
  val selectBudgetTokens: Long = 20000L

  /** F14 — `q_select_budget`: token-budget data selection — keep the
    * highest-quality documents until a token budget is exhausted, the
    * standard construction of a quality-filtered pretraining mixture
    * ("best N tokens", the selection step downstream of scoring that
    * every budgeted training run performs). A document is selected
    * iff the cumulative token count through it — in (quality desc,
    * doc_id asc) order, [[qualityExpr]] quality, F3's regex-lexer
    * tokens — stays within [[selectBudgetTokens]]. Output is the
    * selected documents with their cumulative position.
    *
    * Scale shape: the naive form is a GLOBAL sort + single-partition
    * running sum — the one-reducer shape that cannot hold at 100 TB.
    * This runs the same two-level distributed prefix sum as
    * [[packSequences]]: range-partition by the sort key
    * (`repartitionByRange` samples the key distribution, so shard
    * sizes are corpus-independent), per-shard window cumsum in
    * parallel, then each shard's total offsets the next via a
    * broadcast of the per-shard summary — the only single-partition
    * window runs over SHARD SUMMARIES (n/65536 rows, ~150k at 1e10
    * docs), never documents. Docs with NULL quality (empty text) are
    * excluded BEFORE ranking on both engines — they carry no tokens
    * and their null sort position is the one thing Spark and DuckDB
    * order differently. */
  def selectBudget(t: Tables): DataFrame = {
    val shardSz = 65536L
    val nt = reTokenCount
    // one corpus scan computes both ranking inputs; eager checkpoint:
    // the shard count probe and the range partitioning are two
    // consumers (see packSequences)
    val scored = t.documents
      .select(col("doc_id"), nt.as("nt"), qualityExpr.as("quality"))
      .filter(col("quality").isNotNull)
      .localCheckpoint()
    val nShards = math.max(
      t.documents.sparkSession.sparkContext.defaultParallelism,
      (scored.count() / shardSz + 1L).toInt)
    val sharded = scored
      .repartitionByRange(nShards, col("quality").desc, col("doc_id"))
      .withColumn("shard", spark_partition_id().cast(LongType))
      .localCheckpoint() // local cumsums + shard totals, two consumers
    val wLocal = Window.partitionBy(col("shard"))
      .orderBy(col("quality").desc, col("doc_id"))
    val local = sharded.withColumn("local_cum", sum(col("nt")).over(wLocal))
    val wShard = Window.orderBy(col("shard"))
    val shardOff = sharded.groupBy(col("shard")).agg(sum(col("nt")).as("st"))
      .select(col("shard"), (sum(col("st")).over(wShard) - col("st")).as("off"))
    local.join(broadcast(shardOff), Seq("shard"))
      .select(col("doc_id"), col("quality"), col("nt"),
        (col("off") + col("local_cum")).as("cum_tokens"))
      .filter(col("cum_tokens") <= selectBudgetTokens)
      .orderBy(col("cum_tokens"))
  }

  /** F15's keep threshold on the mean bigram log-probability
    * (CCNet/Gopher keep the low-perplexity slice; with scores rounded
    * to 6dp first, the comparison is engine-exact). Set at ≈ the
    * corpus' 10th percentile so the flag separates a real tail — a
    * production pipeline tunes this against its reference corpus,
    * like the reference hand-tunes its similarity threshold
    * (engine.py:105). `private[graft]` so the oracle derives from
    * the same constant. */
  private[graft] val lmScoreThreshold = -3.45

  /** F15 — `q_lm_score`: language-model quality scoring — the
    * CCNet/Gopher-style perplexity filter, the standard pipeline
    * stage between the heuristic gates (F2/F11) and dedup: score
    * each document by the mean log-probability of its word bigrams
    * under an add-one-smoothed bigram LM, and keep the
    * higher-likelihood slice (boilerplate and word salad both score
    * low). The LM trains on the corpus itself in the SAME pass — the
    * self-scoring variant; swapping the count tables for a clean
    * reference corpus's counts changes only the two join inputs.
    *
    * Per token pair: logp = ln((C(w1,w2) + 1) / (C(w1) + V)). Each
    * DISTINCT (doc, w1, w2)'s logp quantizes to integer MICRO-UNITS
    * before the weighted per-doc sum (the F13 technique): summation
    * order can never perturb the score, so DuckDB replays it
    * bit-for-bit; the mean divides two exact integers in one fixed
    * association and rounds to 6dp.
    *
    * Scale shape: one tokenize pass feeds three map-side-combining
    * aggregations (per-doc bigram multiplicities, corpus bigram
    * counts, unigram counts); scoring is two equi-joins on the
    * bigram/prefix keys (vocabulary-keyed shuffles — too big to
    * broadcast at 100 TB, exactly like F8's tf⋈df) plus the 1-row
    * vocab-size cross-broadcast. Nothing quadratic, nothing
    * collected. */
  def lmScore(t: Tables): DataFrame = {
    // materialized ONCE (eager, the sharedStages rationale): the
    // bigram window, the unigram counts and the vocab size are three
    // independent consumers that would otherwise each re-run the
    // corpus tokenize from lineage
    val tok = t.documents
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "w")))
      .localCheckpoint()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = tok
      .select(col("doc_id"), col("w").as("w1"), lead(col("w"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .localCheckpoint() // feeds the per-doc, corpus-bigram AND score passes
    val perDoc = big.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val bigramC = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val unigramC = tok.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = tok.agg(countDistinct(col("w")).as("v"))
    perDoc
      .join(bigramC, Seq("w1", "w2"))
      .join(unigramC, Seq("w1"))
      .join(broadcast(vocab))
      .select(col("doc_id"), col("k"),
        round(log((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")) * 1e6).cast("long").as("micro"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("micro_sum").cast("double") / col("n_bigrams").cast("double") /
          lit(1e6), 6).as("mean_logp"))
      .withColumn("kept", col("mean_logp") >= lmScoreThreshold)
      .orderBy(col("doc_id"))
  }

  /** F17 — `q_gopher_rules`: the published Gopher document-quality
    * rule set (Rae et al. 2021, *Scaling Language Models* §A1.1 —
    * carried into MassiveText/Dolma-style pipelines), complementary
    * to F2's composite score: F2 RANKS, this GATES on the classic
    * per-document heuristics —
    *
    *  - 50 ≤ word count ≤ 100,000
    *  - 3 ≤ mean word length ≤ 10
    *  - symbol-to-word ratio (# and …) ≤ 0.1
    *  - < 90% of lines start with a bullet (•, -, *)
    *  - < 30% of lines end with an ellipsis (… or ...)
    *  - ≥ 80% of words contain an (ASCII) letter
    *  - ≥ 2 DISTINCT stopwords present (the family's en list)
    *
    * Pure per-row projection — zero shuffle at any corpus size (the
    * final sort is presentation). `kept` gates on the UNROUNDED
    * exact-integer ratios; the 6dp-rounded display columns and every
    * threshold comparison replay identically in the oracle. Mean
    * word length divides the normalized text's non-space char count
    * by the word count (no per-word HOF pass); line stats split on
    * '\n' with trailing-empty parity between Spark's regex split and
    * DuckDB's string_split. */
  def gopherRules(t: Tables): DataFrame = {
    val ws = words(col("text"))
    val nWords = size(ws).cast(LongType)
    val meanWlen =
      length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
        .cast("double") / nWords.cast("double")
    val symbolRatio =
      (length(col("text")) - length(regexp_replace(col("text"), "[#…]", "")))
        .cast("double") / nWords.cast("double")
    val lines = split(col("text"), "\n")
    val bulletRatio = size(filter(lines, l => l.rlike("^\\s*[•\\-\\*]")))
      .cast("double") / size(lines).cast("double")
    val ellipsisRatio = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
      .cast("double") / size(lines).cast("double")
    val alphaRatio = size(filter(ws, w => w.rlike("[a-z]")))
      .cast("double") / nWords.cast("double")
    val nStopKinds =
      size(array_intersect(ws, lit(stopwords.head._2.toArray))).cast(LongType)
    t.documents.select(
      col("doc_id"), nWords.as("n_words"),
      round(meanWlen, 6).as("mean_wlen"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletRatio, 6).as("bullet_ratio"),
      round(ellipsisRatio, 6).as("ellipsis_ratio"),
      round(alphaRatio, 6).as("alpha_ratio"),
      nStopKinds.as("n_stop_kinds"),
      (nWords.between(50, 100000) && meanWlen.between(3.0, 10.0) &&
        symbolRatio <= 0.1 && bulletRatio < 0.9 && ellipsisRatio < 0.3 &&
        alphaRatio >= 0.8 && nStopKinds >= 2).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** F16 — `q_source_profile`: the per-source DATA CARD — the audit
    * table a training pipeline publishes per corpus slice (docs,
    * token volume, mean quality, exact-duplicate rate, language mix)
    * before anything trains on it. Every column reuses the family's
    * ONE rule: tokens = F3's whitespace count, quality = F2's
    * [[qualityExpr]] (summed in integer micro-units so the mean is an
    * exact integer sum — empty-text NULLs drop from both sum and
    * count), duplicates = E1's normalized-text md5 (a doc is a dup if
    * its hash group has > 1 member CORPUS-wide, so a copy spanning
    * two sources counts in both), language = F1's [[langPredExpr]]
    * (per-source majority, ties to the lexicographically first).
    *
    * Scale shape: ONE corpus scan builds the checkpointed doc-level
    * frame (one narrow row per doc); the dup window shuffles it by
    * text hash, the profile agg by source, the language leg by
    * (source, lang) — all partial-agg-combined, nothing pairwise,
    * output one row per source. */
  def sourceProfile(t: Tables): DataFrame = {
    val docLevel = t.documents.select(
      col("source"),
      size(words(col("text"))).cast(LongType).as("toks"),
      round(qualityExpr * 1e6, 0).cast(LongType).as("q_mu"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"),
      langPredExpr.as("lang"))
      .localCheckpoint() // feeds the dup-window and the language legs
    val withDup = docLevel.withColumn("is_dup",
      when(count(lit(1)).over(Window.partitionBy(col("h"))) > 1, 1L)
        .otherwise(0L))
    val base = withDup.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("toks")).as("n_tokens"),
      sum(col("q_mu")).as("q_sum"),
      count(col("q_mu")).as("q_n"),
      sum(col("is_dup")).as("dup_docs"))
    val langLeg = docLevel.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("cnt")).as("nc"), col("lang").as("lg"))).as("m"))
      .select(col("source"), col("n_langs"), col("m.lg").as("top_lang"))
    base.join(langLeg, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_tokens"),
        round(col("q_sum").cast("double") / col("q_n").cast("double") /
          lit(1e6), 6).as("mean_quality"),
        col("dup_docs"),
        round(col("dup_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        col("n_langs"), col("top_lang"))
      .orderBy(col("source"))
  }

  /** F18's keep threshold on the mean per-feature log-importance
    * (docs whose hashed-n-gram profile looks more like the target
    * slice than the raw corpus score positive; the cut keeps the
    * clearly-target-like slice). Zero is the natural cut — a doc
    * scores ≥ 0 iff its features are MORE likely under the target
    * model than the raw model; on the sf0.01 corpus it keeps 184/500
    * docs at 71% target precision vs the 44% base rate. A production
    * pipeline shifts it to hit a token budget, like
    * [[lmScoreThreshold]]. `private[graft]` so the oracle derives
    * from the same constant. */
  private[graft] val dsirThreshold = 0.0

  /** F18 — `q_dsir_weights`: data selection via importance resampling
    * (DSIR, Xie et al. 2023, *Data Selection for Language Models via
    * Importance Resampling*): score every raw document by how much
    * more likely its hashed-n-gram bag is under a TARGET-slice
    * feature model than under the raw-corpus model, the published
    * scalable alternative to classifier-based selection. Features
    * are word unigrams + bigrams hashed into 256 buckets (the paper's
    * hashed generative model; bucket = first two hex chars of a
    * salted md5, the F5 technique, so both engines bucket
    * identically); the target slice here is the corpus' labeled
    * `lang = 'en'` docs standing in for the curated reference corpus
    * the paper samples toward (swapping in a real reference corpus
    * changes only the `is_target` predicate).
    *
    * Per bucket b: λ_b = ln p_t(b) − ln p_r(b) with add-one
    * smoothing over B=256, quantized to integer micro-units (the F15
    * technique) so the per-doc weighted mean is exact integer math
    * in one fixed association — DuckDB replays it bit-for-bit.
    * Weight = Σ k_b·λ_b / Σ k_b (mean per feature occurrence, so
    * length cancels); `kept` thresholds like the paper's resampling
    * keeps the high-importance slice.
    *
    * Scale shape: ONE tokenize pass (checkpointed) feeds the unigram
    * and bigram legs; bucket multiplicities map-side-combine down to
    * ≤256·n_docs rows; the feature MODEL is a ≤256-row table built
    * from the same per-doc counts and BROADCAST back — scoring is a
    * broadcast join + per-doc agg, never a vocabulary-keyed shuffle
    * (the hashing is exactly what makes DSIR cheaper than F15's LM
    * at 100 TB). Nothing pairwise, nothing collected. */
  def dsirWeights(t: Tables): DataFrame =
    dsirWeightsStats(
      t.documents
        .select(col("doc_id"), (col("lang") === "en").as("is_target"),
          posexplode(words(col("text"))).as(Seq("pos", "w")))
        .localCheckpoint()) // feeds the unigram AND bigram legs
      .orderBy(col("doc_id"))

  /** F18 over an already-materialized positional token frame
    * (doc_id, is_target, pos, w) — the shared-tokenize entry the
    * composed rows (F22) use so DSIR scoring rides the same corpus
    * read as the other token-level gates; unordered (the standalone
    * row adds the sort). The caller materializes the frame (it has
    * two consumers here: the unigram and bigram legs). */
  private[operators] def dsirWeightsStats(tok: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val uni = tok.select(col("doc_id"), col("is_target"), col("w").as("f"))
    val bi = tok
      .select(col("doc_id"), col("is_target"),
        concat_ws(" ", col("w"), lead(col("w"), 1).over(w)).as("f"),
        lead(col("w"), 1).over(w).isNotNull.as("full"))
      .filter(col("full")).drop("full")
    val perDocB = uni.unionByName(bi)
      .select(col("doc_id"), col("is_target"),
        substring(md5(concat(lit("dsir:"), col("f"))), 1, 2).as("b"))
      .groupBy(col("doc_id"), col("is_target"), col("b"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint() // feeds the model build AND the scoring pass
    val model = perDocB.groupBy(col("b")).agg(
      sum(when(col("is_target"), col("k")).otherwise(0L)).as("ct"),
      sum(col("k")).as("cr"))
    val tot = model.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lam = model.join(broadcast(tot))
      .select(col("b"),
        round((log((col("ct") + 1).cast("double") /
          (col("nt") + 256).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("nr") + 256).cast("double"))) * 1e6)
          .cast("long").as("lam_mu"))
    perDocB.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_feats"),
        sum(col("k") * col("lam_mu")).as("mu_sum"))
      .select(col("doc_id"), col("n_feats"),
        round(col("mu_sum").cast("double") / col("n_feats").cast("double") /
          lit(1e6), 6).as("weight"))
      .withColumn("kept", col("weight") >= dsirThreshold)
  }

  /** F19 — `q_ngram_topk`: the corpus' most document-frequent word
    * 3-grams with fully deterministic tiebreaks — the boilerplate
    * table (license headers, navigation chrome, signature blocks) a
    * pipeline inspects before writing removal rules; the diagnostic
    * companion to E12's automatic span cut. Shingles are the
    * family's ONE unit (F4/E2's distinct word-3-grams), so a row
    * here is directly actionable against every E-family operator.
    *
    * Scale shape: explode → map-side-combining count per shingle →
    * TakeOrderedAndProject on (df DESC, ngram ASC) — the global
    * top-50 needs only 50 rows per partition in flight, never a full
    * sort; the 1-row corpus size cross-broadcasts for the share
    * column. */
  def ngramTopk(t: Tables): DataFrame = {
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    t.documents
      .select(explode(shingles3(words(col("text")))).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs))
      .select(col("ngram"), col("df"),
        round(col("df").cast("double") /
          col("n_docs").cast("double"), 6).as("df_share"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(50)
  }

  /** F26 — `q_quality_buckets`: per-SOURCE quality calibration — each
    * doc's percent rank within its source on the F2 quality score,
    * cut into head/middle/tail terciles (CCNet's published recipe,
    * Wenzek et al. 2020 §4.2: quality is only comparable WITHIN a
    * slice, so bucket per slice and let the pipeline keep "head+
    * middle" uniformly — a single corpus-wide threshold would keep
    * one source whole and gut another). The calibration table F14's
    * budget selection or a mixing policy consumes per source.
    *
    * percent rank = (rank−1)/(n_source−1) on (quality DESC, doc_id)
    * — rank 0 is the source's best doc; ties total-ordered by id.
    * NULL-quality docs (empty text) are excluded before ranking on
    * both engines (F14's rule).
    *
    * Scale shape: a naive per-source window is the §6 few-hot-
    * partitions skew (one task per source sorts its whole slice), so
    * the rank is TWO-LEVEL, the F12/F14 prefix-sum technique keyed
    * by quality bins: quantize quality into ≤101 per-source bins
    * (floor(q·100) — monotone in quality, so per-bin ranks + bin
    * offsets compose to the exact per-source rank; FP quirks in the
    * binning cannot reorder, only shift a boundary identically for
    * equal scores), rank inside the bounded (source, bin) windows,
    * and add the per-(source, bin) suffix-sum offsets back via a
    * ≤|sources|·101-row broadcast. The oracle replays the SIMPLE
    * per-source PERCENT_RANK window — the two plans are provably the
    * same function, which is exactly what the row checks. */
  def qualityBuckets(t: Tables): DataFrame =
    qualityBucketsFrom(t.documents
      .select(col("doc_id"), col("source"), qualityExpr.as("quality")))
      .orderBy(col("source"), col("doc_id"))

  /** F26 over an already-scored (doc_id, source, quality) frame,
    * unordered — the shared-scan seam (H3 feeds its pinned scored
    * frame here and the bucket rows into the pipeline's gates, where
    * a sort would be thrown away). A source's size is the sum of its
    * bin counts, so it rides the offsets broadcast. */
  private[graft] def qualityBucketsFrom(scored: DataFrame): DataFrame = {
    val binned = scored
      .filter(col("quality").isNotNull)
      .withColumn("bin", floor(col("quality") * 100).cast("int"))
    val bySource = Window.partitionBy(col("source"))
    val offsets = binned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(
        bySource.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src", sum(col("c")).over(bySource))
      .select(col("source"), col("bin"), col("off"), col("n_src"))
    val wIn = Window.partitionBy(col("source"), col("bin"))
      .orderBy(col("quality").desc, col("doc_id"))
    val pr = coalesce((col("rnk") - 1).cast("double") /
      nullif((col("n_src") - 1).cast("double"), lit(0.0)), lit(0.0))
    binned
      .join(broadcast(offsets), Seq("source", "bin"))
      .withColumn("rnk", col("off") + row_number().over(wIn))
      .select(col("doc_id"), col("source"), col("quality"),
        round(pr, 6).as("pct_rank"),
        when(pr <= lit(1.0 / 3), "head")
          .when(pr <= lit(2.0 / 3), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** F24 — `q_token_histogram`: the corpus' token-LENGTH distribution
    * in power-of-two buckets with cumulative token share — the
    * "how much of the corpus lives in short docs" table every
    * context-length / packing decision (F10's chunk window, F12's
    * 2048-token sequences, truncation-vs-drop policies) reads first,
    * and the drift table a daily crawl compares across snapshots.
    * Token rule = F3's `re_tokens` (the family's ONE budget
    * estimate); bucket = ⌊log2(tokens)⌋, computed as
    * length(bin(n)) − 1 — INTEGER string logic, not a libm log2
    * call, so the bucket boundary is engine-exact; empty docs land
    * in a dedicated bucket −1.
    *
    * Scale shape: one per-row projection → a ≤64-row map-side-
    * combining aggregate (the bucket table is bounded by the long
    * width, corpus-independent) → shares and the cumulative sum on
    * those ≤64 rows (the single-partition window is deliberate and
    * bounded — never corpus-sized); 1-row totals cross-broadcast.
    * Shares divide exact longs once, 6dp display round. */
  def tokenHistogram(t: Tables): DataFrame = {
    val nt = reTokenCount
    val buckets = t.documents
      .select(when(nt === 0L, lit(-1))
        .otherwise(length(bin(nt)) - 1).cast("int").as("bucket"),
        nt.as("nt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens_total"))
    val totals = buckets.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("tokens_total")).as("tot_tokens"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lo = when(col("bucket") < 0, lit(0L))
      .otherwise(pow(lit(2.0), col("bucket")).cast(LongType))
    val hi = when(col("bucket") < 0, lit(0L))
      .otherwise((pow(lit(2.0), col("bucket") + 1) - 1).cast(LongType))
    buckets.join(broadcast(totals))
      .withColumn("cum_tokens", sum(col("tokens_total")).over(wCum))
      .select(col("bucket"), lo.as("lo"), hi.as("hi"),
        col("n_docs"), col("tokens_total"),
        round(col("n_docs").cast("double") /
          col("tot_docs").cast("double"), 6).as("doc_share"),
        round(col("tokens_total").cast("double") /
          col("tot_tokens").cast("double"), 6).as("token_share"),
        round(col("cum_tokens").cast("double") /
          col("tot_tokens").cast("double"), 6).as("cum_token_share"))
      .orderBy(col("bucket"))
  }

  /** F23 — `q_collocations`: corpus-wide COLLOCATION mining — the
    * published word2vec phrase-detection score (Mikolov et al. 2013
    * §4, *Distributed Representations of Words and Phrases*):
    * score(a,b) = (c_ab − δ)·N ⁄ (c_a·c_b) over adjacent word pairs,
    * discount δ = 5 suppressing rare-pair noise. Pairs scoring high
    * occur together far more than their unigram frequencies predict —
    * the "new york"/"machine learning" table a tokenizer-training or
    * phrase-merging pass reads before its first merge (the
    * collocation companion to F20's character-level BPE stats), and
    * the multi-word-boilerplate lens beside F19's raw-frequency view.
    *
    * Engine-exactness: the score is a ratio of EXACT integer counts —
    * deliberately the lift form, not log-PMI (rank-equivalent: log is
    * monotone), because a libm `ln` is not bit-identical across
    * engines while (double)(c_ab−δ)·(double)N ⁄ ((double)c_a·(double)c_b)
    * is three correctly-rounded IEEE ops on exactly-represented
    * integers. 6dp-rounded BEFORE the ranking, (w1, w2) tie-break —
    * the library's ranked-score contract.
    *
    * Scale shape: ONE tokenize pass feeds both counts — unigrams via
    * explode → map-side-combining count, pairs via the argument-level
    * slice+zip_with bigram composition (shingles3's HOF discipline) →
    * map-side-combining count with the δ floor applied BEFORE the
    * vocabulary-keyed joins (the floor cuts the pair table ~10× ahead
    * of the shuffle); two uni⋈pair equi-joins on the word keys (F8's
    * tf⋈df shape — vocab too big to force-broadcast at 100 TB), the
    * 1-row token total cross-broadcasts, and the global top-30 is a
    * TakeOrderedAndProject — 30 rows per partition in flight, never a
    * full sort. */
  def collocations(t: Tables): DataFrame = {
    val delta = 5
    val wl = t.documents.select(words(col("text")).as("ws"))
    val uni = wl.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_tokens"))
    val pairC = wl.select(explode(bigramPairs(col("ws"))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_c"))
      .filter(col("pair_c") > delta)
    pairC
      .join(uni.select(col("w").as("w1"), col("c").as("w1_c")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("w2_c")), Seq("w2"))
      .join(broadcast(total))
      .select(col("w1"), col("w2"), col("pair_c"), col("w1_c"), col("w2_c"),
        round(((col("pair_c") - delta).cast("double") *
            col("n_tokens").cast("double")) /
          (col("w1_c").cast("double") * col("w2_c").cast("double")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** F21 — `q_lang_confusion`: the language-ID CONFUSION MATRIX —
    * F1's prediction against the corpus' ground-truth `lang` label,
    * one row per (true, predicted) pair with the within-true-language
    * rate (the recall decomposition). The eval table a pipeline
    * publishes for any heuristic classifier it gates on — and the
    * table that EXPOSES F1's blind spot honestly: the stopword
    * profiles know en/es/de/fr only, so the corpus' `zh` docs land
    * wherever the tie rule sends profile-less text (en, first in
    * declaration order), and this matrix is where that shows up.
    *
    * Scale shape: one per-row projection → a (≤L²)-row
    * map-side-combining count → a ≤L-row broadcast totals join.
    * Nothing corpus-sized moves. */
  def langConfusion(t: Tables): DataFrame = {
    val pairs = t.documents
      .select(col("lang").as("lang_true"), langPredExpr.as("lang_pred"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("lang_true")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), Seq("lang_true"))
      .select(col("lang_true"), col("lang_pred"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("rate"))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  /** F22 — `q_gate_matrix`: the quality-gate AGREEMENT matrix — the
    * joint keep/fail distribution of the three cheap per-document
    * gates (F17 Gopher rules, F11 repetition NOT flagged, F18 DSIR
    * target-likeness) over the corpus, with each pattern's share.
    * The governance table a pipeline reads before composing gates:
    * which gates agree, which slice fails everything, how much each
    * marginal cut overlaps (Dolma/RefinedWeb-style ablation tables
    * report exactly this joint structure).
    *
    * Each gate is the family's ONE definition (the operators' shared
    * stats bodies are called, not re-derived — the oracle nests
    * their oracle bodies the same way), joined on doc_id and
    * collapsed to the ≤8-row joint distribution by a
    * map-side-combining count; the 1-row total cross-broadcasts for
    * the share. The two TOKEN-level gates (repetition, DSIR) consume
    * ONE shared, eagerly-materialized tokenize pass — the F9
    * composition contract — so the corpus text is read and split
    * once for both, not once per gate; the Gopher gate is a
    * text-level projection with no token explode to share, so it
    * keeps its own scan. Nothing new is corpus-shaped beyond the
    * three gates themselves. */
  def gateMatrix(t: Tables): DataFrame = {
    val tok = t.documents
      .select(col("doc_id"), (col("lang") === "en").as("is_target"),
        posexplode(words(col("text"))).as(Seq("pos", "w")))
      .localCheckpoint() // ONE tokenize pass, two gate consumers
    val g = gopherRules(t).select(col("doc_id"), col("kept").as("gopher_kept"))
    val r = repetitionStats(tok)
      .select(col("doc_id"), (!col("flagged")).as("rep_ok"))
    val d = dsirWeightsStats(tok)
      .select(col("doc_id"), col("kept").as("dsir_kept"))
    val joint = g.join(r, Seq("doc_id")).join(d, Seq("doc_id"))
      .groupBy(col("gopher_kept"), col("rep_ok"), col("dsir_kept"))
      .agg(count(lit(1)).as("n"))
    val total = joint.agg(sum(col("n")).as("tot"))
    joint.join(broadcast(total))
      .select(col("gopher_kept"), col("rep_ok"), col("dsir_kept"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("share"))
      .orderBy(col("gopher_kept"), col("rep_ok"), col("dsir_kept"))
  }

  /** F20 — `q_bpe_pairs`: the FIRST BPE merge-step statistics
    * (Sennrich et al. 2016, *Neural Machine Translation of Rare
    * Words with Subword Units*): the corpus' most frequent adjacent
    * character pairs weighted by word frequency — the table a
    * tokenizer-training run materializes before its first merge, and
    * the health check (dominant pairs, coverage) a pipeline reads
    * when deciding whether its tokenizer still fits a grown corpus.
    *
    * Scale shape — the exact reason BPE training is feasible at
    * 100 TB: pair counting runs over the VOCABULARY (one row per
    * distinct word with its corpus count, from a map-side-combining
    * aggregate), never over the token stream; the pair explode and
    * the top-20 TakeOrdered touch vocab-sized data only. Per-word
    * multiplicities weight by the word's corpus count; a pair
    * repeating INSIDE a word ("aaa" → "aa" twice) counts per
    * occurrence, per the published algorithm. Deterministic total
    * order (total DESC, pair ASC); code-point substr semantics match
    * across engines (SURVEY §4). */
  def bpePairs(t: Tables): DataFrame = {
    val wordFreq = t.documents
      .select(explode(words(col("text"))).as("w"))
      // pre-agg filter: single-char tokens can never form a pair, so
      // drop them before the one corpus-wide shuffle, not after
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    wordFreq
      .select(col("w"), col("c"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(countDistinct(col("w")).as("n_words"), sum(col("c")).as("total"))
      .orderBy(col("total").desc, col("pair"))
      .limit(20)
  }

  /** F30 `q_sample_stratified` parameters: sample size per source,
    * and the local-stage shard fan-out (a parallelism knob — any
    * S ≥ 1 gives identical results since each shard's local top-k is
    * a superset of its contribution to the global top-k; a real
    * deployment sizes S to the cluster so no task sorts more than
    * one shard of one source). */
  private[graft] val stratifiedK = 20
  private[graft] val stratifiedShards = 16

  /** F30 — `q_sample_stratified`: the per-source EXACT-k eval sample
    * — every pipeline holds out a fixed-size, deterministic,
    * label-balanced slice per corpus stratum before training (the
    * per-domain held-out sets of Pile/Dolma-style evals; fixed k per
    * stratum, unlike F5's fixed RATE). Selection order is the salted
    * doc hash (F5's technique: md5('eval:'||doc_id)), so membership
    * is a pure function of doc_id — stable across runs, re-crawls
    * and corpus growth reorderings — with doc_id itself as the total
    * tie-break.
    *
    * Scale shape — the hierarchical top-k the flat window can't
    * survive: ranking a whole source in ONE window partition is the
    * §6 few-hot-partitions skew (one task sorts the whole stratum at
    * 100 TB), so the ENGINE ranks TWO-LEVEL: local row_number inside
    * bounded (source, doc_id mod [[stratifiedShards]]) partitions,
    * keep each shard's top k, then the global rank over the
    * ≤ shards·k survivors per source (tiny by construction). Every
    * shard's local top-k is a superset of what it contributes
    * globally, so the composition is EXACTLY the flat rank — and the
    * ORACLE replays the flat ROW_NUMBER, proving the two plans are
    * the same function on every run (the F26 discipline for top-k
    * instead of percent-rank). */
  def sampleStratified(t: Tables): DataFrame = {
    val k = stratifiedK
    val h = md5(concat(lit("eval:"), col("doc_id").cast("string")))
    val local = Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(stratifiedShards.toLong)))
      .orderBy(col("h"), col("doc_id"))
    val global = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    t.documents.select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("lr", row_number().over(local))
      .filter(col("lr") <= k)
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  /** Number of merge steps `q_bpe_train` runs — small by design (the
    * row demonstrates the loop; a production vocab runs ~30k steps of
    * the SAME per-step plan). */
  private[graft] val bpeTrainMerges = 8

  /** F29 — `q_bpe_train`: the first [[bpeTrainMerges]] steps of the
    * ACTUAL BPE training loop (Sennrich et al. 2016 §3.2, the
    * published algorithm verbatim): per step, count adjacent symbol
    * pairs over the current segmentation weighted by word frequency,
    * merge the most frequent pair left-to-right non-overlapping in
    * every word, repeat. F20 is the step-0 statistics table; this row
    * RUNS the loop — each output row is one merge (step, pair, its
    * count at selection time) plus the corpus subword token volume
    * after the merge: the compression curve a tokenizer-training run
    * watches.
    *
    * Scale shape — the property that makes BPE training feasible at
    * 100 TB (F20's argument, applied per step): after ONE
    * token-stream shuffle builds the word-frequency vocabulary,
    * every step touches vocab-sized data only — a bounded pair
    * explode (≤ word length per vocab row) into a map-side-combining
    * count, a 1-row TakeOrdered argmax (the only driver transfer:
    * one row per step, bounded by construction), and a per-row
    * segmentation fold. Per-step segmentations pin via eager
    * localCheckpoint so the plan stays one step deep (the
    * q_search_mmr lesson); the pinned frames are bounded by the
    * CONSTANT step count and vocab-sized — the measured right trade
    * over cache substitution here (see the in-body note).
    *
    * The merge is a pure left-to-right fold: append each symbol,
    * merging when the accumulator's last symbol is `a` and the next
    * is `b` — correct because the merged symbol `a+b` is strictly
    * longer than `a`, so a merge result can never re-trigger on its
    * own left part; a run of equal symbols ("aaa" under merge (a,a))
    * merges at even offsets exactly like the reference
    * implementation. Pair counts follow the published `get_stats`:
    * per adjacent occurrence, so "aaa" counts (a,a) twice though one
    * merge applies. Tie-break (total DESC, pair ASC) is a total
    * order; char-split is code-point based on both engines (ASCII
    * corpus contract, SURVEY §4). */
  def bpeTrain(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    bpeTrainCore(t.documents)._1
      .toDF("step", "lhs", "rhs", "pair_total", "tokens_after")
      .orderBy("step")
  }

  /** The trainer loop, shared by F29 (the merge table) and F33 (the
    * learned-vocabulary fit audit): returns the per-step merge rows
    * AND the final vocabulary segmentation (c, seg) — one trained
    * tokenizer, two consumers. */
  private[graft] def bpeTrainCore(documents: DataFrame)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) = {
    // per-step segmentations pin via eager localCheckpoint: the
    // checkpointed frames stay pinned for the session (Dataset
    // .unpersist cannot free checkpoint storage — measured), but the
    // count is BOUNDED by the constant step count and each frame is
    // vocab-sized, far below any working set; an A/B against cache
    // substitution (persist + working unpersist) measured the
    // columnar encode/decode of the seg array at ~3x the row's CPU,
    // so the bounded pin is the right trade here (contrast
    // pagerankOn, whose depth is unbounded and frames corpus-sized)
    var vocab = documents
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("c"), split(col("w"), "").as("seg"))
      .localCheckpoint()
    val rows = Seq.newBuilder[(Int, String, String, Long, Long)]
    var step = 1
    var exhausted = false
    while (step <= bpeTrainMerges && !exhausted) {
      // freq-weighted adjacent-pair stats over the CURRENT
      // segmentation; argmax = 1-row TakeOrdered under a total order
      // size >= 2 guard: Spark's sequence(0, -1) would DESCEND for a
      // single-symbol word (DuckDB's stop-exclusive range is empty)
      val best = vocab
        .filter(size(col("seg")) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(0), size(col("seg")) - 2),
          i => concat(get(col("seg"), i), lit(" "),
            get(col("seg"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("total"))
        .orderBy(col("total").desc, col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val total = best(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        vocab = vocab.withColumn("seg", aggregate(
          slice(col("seg"), lit(2), size(col("seg")) - 1),
          slice(col("seg"), 1, 1),
          (acc, x) => when(
            element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))))
          .localCheckpoint()
        val tokensAfter = vocab
          .agg(sum(col("c") * size(col("seg")))).first().getLong(0)
        rows += ((step, a, b, total, tokensAfter))
        step += 1
      }
    }
    (rows.result(), vocab)
  }

  /** F33 — `q_bpe_apply`: tokenizer FIT under the LEARNED vocabulary
    * — apply F29's trained merges to the whole corpus and report,
    * per source, the whitespace word volume, the character-symbol
    * volume (the step-0 token count) and the BPE token volume after
    * all merges, with the compression ratio (chars per BPE token).
    * This is F28's fertility audit under the REAL trained tokenizer
    * instead of the regex proxy: the table that says which corpus
    * slices the learned vocabulary serves and which it fragments
    * (the multilingual-undertraining signal tokenizer teams watch).
    *
    * The key reduction: BPE never merges across word boundaries, so
    * applying the merges to every DOCUMENT is exactly a join of each
    * word occurrence to the final VOCABULARY segmentation — the
    * vocab-sized table the trainer already holds (its word spells
    * back as the concatenation of its segments). No per-document
    * fold, no second training pass; per-source sums are one
    * map-side-combining aggregate over (source, word) counts joined
    * to the ≤vocab-sized segment-length table. Compression is one
    * exact-long division, 6dp. */
  def bpeApply(t: Tables): DataFrame = {
    val vocab = bpeTrainCore(t.documents)._2
    val segs = vocab.select(array_join(col("seg"), "").as("w"),
      size(col("seg")).cast(LongType).as("bpe_len"))
    val perSource = t.documents
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    perSource.join(segs, "w")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("ws_tokens"),
        sum(col("n") * length(col("w")).cast(LongType)).as("char_tokens"),
        sum(col("n") * col("bpe_len")).as("bpe_tokens"))
      .select(col("source"), col("ws_tokens"), col("char_tokens"),
        col("bpe_tokens"),
        round(col("char_tokens").cast("double") /
          col("bpe_tokens").cast("double"), 6).as("compression"))
      .orderBy(col("source"))
  }

  /** F32's sample size. */
  private[graft] val weightedK = 50

  /** F32 — `q_sample_weighted`: WEIGHTED sampling without
    * replacement — Efraimidis–Spirakis (2006) A-ES: each item draws
    * u ∈ (0,1) and the k largest u^(1/w) ARE an exact weight-
    * proportional without-replacement sample. That reduction is the
    * whole point at scale: "sample 50 docs proportional to length"
    * becomes ONE distributed top-k (TakeOrderedAndProject — per-
    * partition heaps, driver merge, zero shuffle), where the
    * textbook sequential draw (pick, remove, renormalize, repeat) is
    * inherently serial and k passes deep. Weight = n_chars (the
    * size-biased sample a token-budget planner wants); u derives
    * from the F5 seeded-md5 discipline — first 12 hex digits → a
    * 48-bit integer v, u = (v + 0.5)/2^48, exactly representable and
    * engine-exact — and the sort key is ln(u)/w (monotone in
    * u^(1/w); all values negative), rounded to 9dp with doc_id ties
    * so both engines cut the same top-k even at the boundary (LN's
    * 1-ulp cross-engine drift is absorbed by the rounding — the
    * F8/D16 convention). */
  def sampleWeighted(t: Tables): DataFrame = {
    val v = conv(substring(md5(concat(lit("wsample:"),
      col("doc_id").cast("string"))), 1, 12), 16, 10).cast(LongType)
    val u = (v.cast("double") + 0.5) / lit(281474976710656.0) // 2^48
    // greatest(n_chars, 1): a zero-length doc would otherwise divide
    // by 0 (−Infinity in Spark, NULL/error in other engines) and
    // diverge the top-k cut; weight 1 = the minimum-weight item
    val key = round(log(u) / greatest(col("n_chars"), lit(1)).cast("double"), 9)
    t.documents
      .select(col("doc_id"), col("source"),
        col("n_chars").as("weight"), key.as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(weightedK)
  }
}
