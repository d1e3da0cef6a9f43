package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned byte-pair-encoding tokenizer — the real-merge-table upgrade of
  * `x_text_tokens`' "BPE-ish" regex counter. Training is classic BPE
  * (Sennrich et al., public knowledge): count adjacent symbol pairs over
  * the word vocabulary (weighted by word frequency), merge the most
  * frequent pair, repeat N times. Application folds the learned merges
  * over each document in training order.
  *
  * Representation: a word's symbol sequence is a single string of
  * chr(1)+sym+chr(2) cells; one merge rule (a, b) is ONE literal
  * `replace` of cell-pair "⟨a⟩⟨b⟩" with "⟨ab⟩". Both engines use the
  * same non-overlapping left-to-right replace semantics, so training and
  * application replay bit-exactly in the DuckDB oracle — the merge table
  * is DERIVED independently there (N unrolled count→argmax→rewrite
  * stages), never shipped across.
  *
  * Scale shape: training runs over the DISTINCT-word table (two-phase
  * count, one shuffle), then each of the N iterations is a pair explode
  * + two-phase count + a bounded top-1 (TakeOrdered) — the only driver
  * state is the N-row merge table (the model artifact, like the ANN
  * centroids). Application is a pure per-row chain of N codegen'd
  * replaces; document text never shuffles. The word table passes one
  * lineage barrier (`Checkpoints.barrier`, no persist), so the
  * CacheManager stays empty.
  */
object BpeQueries {
  private val S = "\u0001" // symbol start (= chr(1))
  private val E = "\u0002" // symbol end (= chr(2))
  private val W = "\u0003" // word boundary (= chr(3)); merges never cross it

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** chr-cell encoding of one word (SQL fragment; `w` is a lambda var). */
  private def encWordSql(w: String): String =
    s"CASE WHEN length($w) = 0 THEN '' ELSE " +
      s"array_join(transform(sequence(1, length($w)), " +
      s"i -> concat(chr(1), substring($w, i, 1), chr(2))), '') END"

  /** Encode a whole document: words encoded cell-wise, joined by chr(3). */
  private def encodeDocs(d: DataFrame): DataFrame =
    d.withColumn("e", expr(
      "CASE WHEN length(text) = 0 THEN '' ELSE " +
        "array_join(transform(split(text, ' '), " +
        s"w -> ${encWordSql("w")}), chr(3)) END"))

  /** The (cnt DESC, a, b) argmax pair over one vocabulary state — the
    * per-iteration training step, as a 1-row DataFrame. */
  private def pairBest(v: DataFrame): DataFrame = v
    .filter(length(col("wstr")) > 0)
    .select(col("freq"),
      split(expr("substring(wstr, 2, length(wstr) - 2)"), E + S)
        .as("syms"))
    .filter(size(col("syms")) >= 2)
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(syms) - 1), " +
        "j -> struct(element_at(syms, j) AS a, " +
        "element_at(syms, j + 1) AS b))")).as("p"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum(col("freq")).as("cnt"))
    .orderBy(col("cnt").desc, col("a"), col("b"))
    .limit(1)

  /** Train `n` merges over the corpus word vocabulary. Returns the merge
    * table in training order.
    *
    * r16 (VERDICT r15 #5, guide §5 driver latency): the loop collected
    * once PER merge — 8 sequential driver round-trips, each paying
    * Catalyst planning + fresh whole-stage-codegen compilation for a
    * sub-300 ms job (profile: ~3.3 s of executed jobs inside an ~8 s
    * wall). Now each round-trip resolves TWO merges in one action: the
    * round's argmax (best1), the vocabulary REWRITTEN BY best1 inside
    * the same plan (a cross join against the 1-row argmax — the same
    * literal replace, built from columns), and the argmax over that
    * (best2), unioned with a step tag. The merge table is byte-identical
    * — best2 is computed over exactly the vocabulary state best1's
    * merge produces, same (cnt DESC, a, b) tie rule — and the driver
    * state stays the N-row merge table (the vocabulary itself never
    * collects). */
  private[graft] def trainMerges(d: DataFrame,
      n: Int): Seq[(String, String)] = {
    val words = d
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(expr(encWordSql("word")).as("wstr"), col("freq"))
    var vocab = graft.sources.Checkpoints.barrier(words)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < n && !exhausted) {
      val want = math.min(2, n - merges.size)
      val best1 = pairBest(vocab)
      val rows =
        if (want == 1)
          best1.select(lit(1).as("step"), col("a"), col("b")).collect()
        else {
          val applied = vocab
            .crossJoin(best1.select(col("a").as("_ma"), col("b").as("_mb")))
            .withColumn("wstr", replace(col("wstr"),
              concat(lit(S), col("_ma"), lit(E), lit(S), col("_mb"), lit(E)),
              concat(lit(S), col("_ma"), col("_mb"), lit(E))))
            .select(col("wstr"), col("freq"))
          best1.select(lit(1).as("step"), col("a"), col("b"))
            .unionAll(pairBest(applied)
              .select(lit(2).as("step"), col("a"), col("b")))
            .collect()
        }
      val got = rows.sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      got.foreach { case (a, b) =>
        merges += ((a, b))
        vocab = vocab.withColumn("wstr", mergeOnce(col("wstr"), a, b))
      }
      if (got.size < want) exhausted = true
    }
    merges.toSeq
  }

  /** One merge rule as one literal cell-pair replace. */
  private def mergeOnce(c: Column, a: String, b: String): Column =
    replace(c, lit(S + a + E + S + b + E), lit(S + a + b + E))

  /** Fold the merge table over an encoded column in training order. */
  private[graft] def applyMerges(c: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(c) { case (acc, (a, b)) => mergeOnce(acc, a, b) }

  /** Decode: cell boundaries → spaces, sentinels dropped. */
  private def decode(c: Column): Column =
    replace(replace(replace(replace(replace(
      c, lit(E + W + S), lit(" ")), lit(E + S), lit(" ")),
      lit(W), lit(" ")), lit(S), lit("")), lit(E), lit(""))

  private val N_MERGES = 8

  /** Tokenize every document with an 8-rule merge table learned from the
    * corpus itself; emits whitespace vs BPE token counts and the decoded
    * tokenization (space-joined learned subwords). */
  val tokensBpe: QueryDef = QueryDef(
    "x_text_tokens_bpe",
    (s, dir) => {
      val merges = trainMerges(docs(s, dir), N_MERGES)
      // r15: establish the doc_id output order BELOW the merge
      // application instead of a trailing orderBy. The trailing sort's
      // range-sampling pass re-executed its child — i.e. the 8-replace
      // application over every document ran TWICE (two ~1.1 s
      // single-task stages in the profile); and the explicit partition
      // count keeps the application fanned out (a plain orderBy's
      // exchange is AQE-coalesced to one task at bench bytes). Range
      // partitions + in-partition sort on a unique key is the same
      // total order the orderBy produced.
      val sorted = docs(s, dir).select(col("doc_id"), col("text"))
        .repartitionByRange(s.sessionState.conf.numShufflePartitions,
          col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
      encodeDocs(sorted)
        .withColumn("m", applyMerges(col("e"), merges))
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          (length(col("m")) -
            length(replace(col("m"), lit(S), lit("")))).as("n_bpe_tokens"),
          decode(col("m")).as("bpe_text"))
    },
    oracle = Some(BpeOracleSql.sql(N_MERGES))
  )

  /** Tokenizer fertility / coverage report — the acceptance metric a
    * tokenizer training run logs before the tokenizer ships: per
    * language, tokens-per-word (fertility) and the fraction of tokens
    * that are LEARNED merges rather than single-character fallbacks
    * (merged_frac ≈ how much of the corpus the merge table actually
    * covers). A merge table trained on English boilerplate shows high
    * fertility and near-zero merged_frac on zh — exactly the imbalance
    * this report exists to catch.
    *
    * Scale shape: training is the same bounded-driver-state loop as
    * x_text_tokens_bpe (N-row merge table); the report is a per-row map
    * (apply merges, split cells, count) followed by one |langs|-row
    * aggregation — document text never shuffles. */
  val tokenizerCoverage: QueryDef = QueryDef(
    "x_pipeline_tokenizer_coverage",
    (s, dir) => {
      val merges = trainMerges(docs(s, dir), N_MERGES)
      // r15: spread below the application — the 8-replace chain over
      // every document is the report's dominant per-row compute and ran
      // on the single bench scan split's one core (the ~0.6 MB text
      // exchange buys a ~1 s stage its full fan-out; identity at scale)
      encodeDocs(Tables.spread(docs(s, dir)
          .select(col("doc_id"), col("lang"), col("text")), col("doc_id")))
        .withColumn("m", applyMerges(col("e"), merges))
        .withColumn("mu", replace(col("m"), lit(E + W + S), lit(E + S)))
        .withColumn("syms", when(length(col("mu")) === 0,
            expr("array()"))
          .otherwise(split(expr("substring(mu, 2, length(mu) - 2)"), E + S)))
        .withColumn("n_words", when(length(col("m")) === 0, lit(0))
          .otherwise(length(col("m")) -
            length(replace(col("m"), lit(W), lit(""))) + 1))
        .withColumn("n_tokens", size(col("syms")))
        .withColumn("n_merged",
          size(expr("filter(syms, x -> length(x) > 1)")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_merged")).as("n_merged"))
        .withColumn("fertility",
          col("n_tokens").cast("double") / col("n_words").cast("double"))
        .withColumn("merged_frac",
          col("n_merged").cast("double") / col("n_tokens").cast("double"))
        .orderBy(col("lang"))
    },
    oracle = Some(BpeOracleSql.coverageSql(N_MERGES))
  )

  def defs: Seq[QueryDef] = Seq(tokensBpe, tokenizerCoverage)
}

/** DuckDB oracle that replays BPE training AND application bit-exactly:
  * N unrolled stages, each counting cell pairs over the current word
  * vocabulary (v{i}), picking the (cnt DESC, a, b) argmax (m{i}), and
  * rewriting the vocabulary with the same literal replace the Spark side
  * uses. The document chain (e{i}) folds the same merges in the same
  * order. Integer pair counts + literal (non-regex) replace on both
  * engines ⇒ identical merge tables ⇒ identical tokenizations. */
private[operators] object BpeOracleSql {
  private val S = "chr(1)"; private val E = "chr(2)"
  private val W = "chr(3)"

  private def encWord(w: String) =
    s"CASE WHEN length($w) = 0 THEN '' ELSE " +
      s"array_to_string(list_transform(range(1, length($w) + 1), " +
      s"i -> $S || substr($w, i, 1) || $E), '') END"

  /** Shared WITH body: training stages v0..vN and document chain e0..eN. */
  private def ctes(n: Int): String = {
    val stages = (1 to n).map { i =>
      s"""
      sp$i AS (SELECT freq, syms, unnest(range(1, len(syms))) AS j
              FROM (SELECT freq,
                      string_split(substr(wstr, 2, length(wstr) - 2),
                        $E || $S) AS syms
                    FROM v${i - 1} WHERE length(wstr) > 0)),
      p$i AS (SELECT syms[j] AS a, syms[j + 1] AS b,
                CAST(sum(freq) AS BIGINT) AS cnt
              FROM sp$i GROUP BY syms[j], syms[j + 1]),
      m$i AS (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      v$i AS (SELECT freq,
                replace(wstr, $S || m.a || $E || $S || m.b || $E,
                  $S || m.a || m.b || $E) AS wstr
              FROM v${i - 1}, m$i m),
      e$i AS (SELECT doc_id, text,
                replace(e, $S || m.a || $E || $S || m.b || $E,
                  $S || m.a || m.b || $E) AS e
              FROM e${i - 1}, m$i m)"""
    }.mkString(",")
    s"""
      WITH words AS (SELECT word, count(*) AS freq
                     FROM (SELECT unnest(string_split(text, ' ')) AS word
                           FROM documents)
                     GROUP BY word),
      v0 AS (SELECT ${encWord("word")} AS wstr, freq FROM words),
      e0 AS (SELECT doc_id, text,
               CASE WHEN length(text) = 0 THEN '' ELSE
                 array_to_string(list_transform(string_split(text, ' '),
                   w -> ${encWord("w")}), $W) END AS e
             FROM documents),$stages"""
  }

  def sql(n: Int): String =
    s"""${ctes(n)}
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_ws_tokens,
             length(e) - length(replace(e, $S, '')) AS n_bpe_tokens,
             replace(replace(replace(replace(replace(e,
               $E || $W || $S, ' '), $E || $S, ' '), $W, ' '),
               $S, ''), $E, '') AS bpe_text
      FROM e$n ORDER BY doc_id"""

  /** Oracle for `x_pipeline_tokenizer_coverage`: same training chain,
    * then the per-language fertility / merged-fraction rollup. */
  def coverageSql(n: Int): String =
    s"""${ctes(n)},
      u AS (SELECT d.lang, e.e,
              replace(e.e, $E || $W || $S, $E || $S) AS mu
            FROM e$n e JOIN documents d USING (doc_id)),
      sy AS (SELECT lang,
               CASE WHEN length(mu) = 0 THEN 0
                    ELSE length(e) - length(replace(e, $W, '')) + 1
                 END AS n_words,
               CASE WHEN length(mu) = 0 THEN []::VARCHAR[]
                    ELSE string_split(substr(mu, 2, length(mu) - 2),
                      $E || $S) END AS syms
             FROM u),
      per AS (SELECT lang, n_words,
                CAST(len(syms) AS INTEGER) AS n_tokens,
                CAST(len(list_filter(syms, x -> length(x) > 1))
                  AS INTEGER) AS n_merged
              FROM sy)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS n_words,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(n_merged) AS BIGINT) AS n_merged,
             CAST(sum(n_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
               AS fertility,
             CAST(sum(n_merged) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)
               AS merged_frac
      FROM per GROUP BY lang ORDER BY lang"""
}
