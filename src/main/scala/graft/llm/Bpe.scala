package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic BPE tokenizer over a PINNED merge table — model-token
  * counts for the budget/packing/mixing family (q98/q46/q67 count
  * whitespace tokens; training budgets are billed in model tokens, and
  * on real corpora the two diverge by integer factors).
  *
  * The encoding is exact textbook BPE made cross-engine recomputable
  * with nothing but string `replace`:
  *
  *   - a word becomes the delimited symbol string `|c||h||a||r|…` —
  *     every symbol carries its OWN `|…|` wrapper, so a merge is the
  *     literal replacement `|a||b|` → `|ab|` and matches can never
  *     span a symbol boundary or share a separator with the next
  *     occurrence (the classic shared-space pitfall of ` a b ` →
  *     ` ab ` encodings);
  *   - words join with `#` (never merged across — the BPE word
  *     boundary), texts containing a delimiter fail loudly;
  *   - merges apply in rank order, each pass = one `replace` call
  *     (SQL-standard left-to-right non-overlapping scan, identical in
  *     Spark and DuckDB). Because the table is CONSISTENT (each
  *     operand is a base char or the output of an earlier merge), a
  *     merge can only ever create pairs of HIGHER rank, so one
  *     ascending pass per rank is exactly the greedy
  *     lowest-rank-first algorithm — BpeSpec pins equality against an
  *     independent one-merge-at-a-time greedy reference;
  *   - token count = half the delimiter count — one more `replace`.
  *
  * Everything is builtin string expressions (regexp_replace + chained
  * replace) — whole-stage codegen, no UDF; the merge table is the
  * single source of truth for BOTH the Spark chain and the DuckDB
  * oracle fragment (`sqlTokenCount`), so the oracle recomputes the
  * greedy merges from raw text, not from a Spark export. At 100 TB
  * the count is a per-row projection inside the scan — no shuffle,
  * no state.
  *
  * TWO TIERS: this inline 24-merge chain is the SMALL-vocab twin —
  * the size SQL can inline, kept as the cross-engine validator of
  * the machinery (BpeSpec). The PRODUCTION tier is `TableMerges`
  * (~50k consistent merges) billed through the broadcast-vocab
  * codegen'd expression [[graft.functions.BpeTableCount]] with the
  * DuckDB oracle replaying the SAME persisted merges parquet
  * (`sqlTableCtes`) — what q120/q125 run since round 13.
  */
object Bpe {

  /** Rank-ordered merges (left symbol, right symbol) — output is the
    * concatenation. CONSISTENT by construction: operands are single
    * chars or outputs of strictly earlier ranks (verified at load).
    */
  val Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "e" -> "r", "i" -> "n", "a" -> "n",
    "o" -> "r", "s" -> "t", "a" -> "r", "l" -> "e", "o" -> "w",
    "a" -> "t", "e" -> "y", "u" -> "e", "a" -> "l", "in" -> "e",
    "t" -> "a", "ta" -> "b", "tab" -> "le", "c" -> "an", "s" -> "can",
    "or" -> "t", "s" -> "ort", "r" -> "e", "a" -> "m")

  /** One BPE base symbol = one Unicode CODE POINT — the unit
    * learnMergesLocal's codePointAt walk, the `(?s)(.)` symbolizer
    * regex, and byteLt's tie-break all use. A UTF-16-length test here
    * would wrongly reject learned merges whose operand is a
    * supplementary character (emoji, CJK Ext-B: String.length == 2,
    * one code point) — the round-17 ADVICE bug.
    */
  private def isBaseSymbol(s: String): Boolean =
    s.codePointCount(0, s.length) == 1

  // consistency check: every operand is a code point or an earlier
  // output — the property that makes rank-ascending passes ≡ greedy BPE
  locally {
    val outputs = scala.collection.mutable.Set.empty[String]
    Merges.foreach { case (a, b) =>
      Seq(a, b).foreach(s => require(isBaseSymbol(s) || outputs.contains(s),
        s"Bpe.Merges inconsistent: operand '$s' is neither a code point nor an earlier output"))
      outputs += a + b
    }
  }

  /** Rank-ascending replace fold — valid iff `merges` is CONSISTENT
    * (each operand a base char or an earlier output; checked). Shared
    * by the pinned chain, the learned-table chain ([[BpeTrain]]), and
    * the single-word variant below.
    */
  private def foldMerges(merges: Seq[(String, String)], init: Column): Column = {
    val outputs = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (a, b) =>
      Seq(a, b).foreach(s => require(isBaseSymbol(s) || outputs.contains(s),
        s"Bpe: merge table inconsistent: operand '$s' is neither a code point nor an earlier output"))
      outputs += a + b
    }
    merges.foldLeft(init) { case (s, (a, b)) =>
      call_function("replace", s, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
  }

  /** The delimited symbol string of `text` under an arbitrary
    * consistent merge table. Reserved delimiter chars in the input
    * fail loudly (the corpus contract; a production vocab would
    * escape instead).
    */
  def symbolsWith(merges: Seq[(String, String)], text: Column): Column = {
    val guarded = when(text.rlike("[|#]"),
      raise_error(concat(lit("Bpe: text contains reserved delimiter | or #: "), text)))
      .otherwise(text)
    foldMerges(merges,
      regexp_replace(concat_ws("#", TextOps.tokens(guarded)), "([^#])", "|$1|"))
  }

  /** Delimited symbol string of a SINGLE word (no `#` joiner) — the
    * unit [[BpeTrain]]'s dictionary loop works on. The caller
    * guarantees `word` is delimiter-free (wordCounts guards the raw
    * text). `(?s)` makes Java's `.` match line-terminator code points
    * too (U+0085/U+2028/U+2029 survive the ASCII `\\s+` tokenizer and
    * RE2's `.`/the local path's codePointAt both treat them as
    * ordinary symbols — without DOTALL the Spark side alone would
    * skip them and corrupt the delimiter invariant).
    */
  def symbolsOfWord(merges: Seq[(String, String)], word: Column): Column =
    foldMerges(merges, regexp_replace(word, "(?s)(.)", "|$1|"))

  /** The delimited symbol string after all pinned merges. */
  def symbols(text: Column): Column = symbolsWith(Merges, text)

  /** Model-token count of `text` under `merges`: half the delimiter
    * count of the merged symbol string.
    */
  def tokenCountWith(merges: Seq[(String, String)], text: Column): Column = {
    val s = symbolsWith(merges, text)
    ((length(s) - length(call_function("replace", s, lit("|"), lit("")))) / lit(2))
      .cast("long")
  }

  /** Model-token count of `text` under the pinned vocab. */
  def tokenCount(text: Column): Column = tokenCountWith(Merges, text)

  /** DuckDB fragment: the identical merge chain over a token-array SQL
    * expression (the oracles' shared `sqlToks`), yielding the merged
    * symbol string.
    */
  def sqlSymbols(toksSql: String): String =
    Merges.foldLeft(
      s"regexp_replace(array_to_string($toksSql, '#'), '([^#])', '|\\1|', 'g')") {
      case (s, (a, b)) => s"replace($s, '|$a||$b|', '|$a$b|')"
    }

  /** DuckDB fragment: the model-token count (BIGINT). */
  def sqlTokenCount(toksSql: String): String = {
    val s = sqlSymbols(toksSql)
    s"CAST((length($s) - length(replace($s, '|', ''))) / 2 AS BIGINT)"
  }

  // ------------------------------------------------------------------
  // PRODUCTION-SCALE vocab: broadcast table + native greedy encoder
  // (round-12 verdict item 2). The 24-merge chain above stays as the
  // inline-SQL twin that validates the machinery at a size SQL can
  // inline; the query surface (q120/q125) bills with THIS table.
  // ------------------------------------------------------------------

  /** Max merged-symbol length in the synthetic vocab — bounds the
    * oracle's substring enumeration (sqlTableCtes).
    */
  val TableMaxLen = 12

  private val TableSize = 50000
  private[graft] val TableVersion = 1

  /** The ~50k-merge table: the 24 curated English merges as the
    * lowest ranks (so real text exercises multi-level chains), then
    * deterministic LCG-driven combinations of pool symbols — operands
    * are always base chars or earlier outputs, so the table is
    * CONSISTENT by construction (the property the greedy ≡
    * ascending-replay theorem needs; see [[BpeVocab]]). Pure integer
    * arithmetic — identical on every JVM, no RNG state.
    */
  lazy val TableMerges: Seq[(String, String)] = syntheticVocab(TableSize)

  /** Deterministic consistent vocab of `n` merges (n ≥ Merges.size). */
  def syntheticVocab(n: Int, maxLen: Int = TableMaxLen): Seq[(String, String)] = {
    require(n >= Merges.length && maxLen >= 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val pool = scala.collection.mutable.ArrayBuffer.empty[String]
    ('a' to 'z').foreach(c => pool += c.toString)
    val used = scala.collection.mutable.HashSet.empty[(String, String)]
    def add(a: String, b: String): Unit = {
      // holds for the curated prefix too, not just the LCG merges: an
      // output longer than maxLen would fall outside the oracle's
      // substring-candidate enumeration (lens 2..maxLen) and silently
      // diverge engine vs oracle (round-13 advice — the invariant
      // previously lived only in BpeSpec)
      require(a.length + b.length <= maxLen,
        s"syntheticVocab: merge '$a'+'$b' exceeds maxLen=$maxLen")
      out += ((a, b)); used += ((a, b)); pool += (a + b)
    }
    Merges.foreach { case (a, b) => add(a, b) }
    var x = 0x5DEECE66DL
    def next(bound: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 33) % bound).toInt
    }
    while (out.length < n) {
      val a = pool(next(pool.length))
      val b = pool(next(pool.length))
      if (a.length + b.length <= maxLen && !used.contains((a, b))) add(a, b)
    }
    out.toSeq
  }

  import org.apache.spark.broadcast.Broadcast
  import org.apache.spark.sql.SparkSession

  private val vocabBcCache =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext,
      Broadcast[BpeVocab]]()

  /** The session's broadcast vocab handle (one torrent per context). */
  def tableVocab(spark: SparkSession): Broadcast[BpeVocab] =
    vocabBcCache.computeIfAbsent(spark.sparkContext,
      sc => sc.broadcast(new BpeVocab(TableMerges.toArray, TableMaxLen)))

  /** Persist the merge table once as (rank, a, b, ab) parquet — the
    * SINGLE SOURCE the DuckDB oracle replays (sqlTableCtes reads this
    * exact file, so the cross-engine check covers the table content,
    * not just the algorithm). Vocab-only: keyed by the table's size and
    * version, never by a corpus.
    */
  def mergesParquet(spark: SparkSession): String = {
    import spark.implicits._
    graft.util.Fixture.generated("bpe_merges", TableVersion, TableSize)(
      spark.createDataset(TableMerges.zipWithIndex.map {
        case ((a, b), i) => (i, a, b, a + b)
      }).toDF("rank", "a", "b", "ab").coalesce(1).write.parquet(_))
  }

  /** Model-token count under the PRODUCTION table: a codegen'd
    * expression calling the broadcast vocab's greedy encoder
    * ([[graft.functions.BpeTableCount]]). Reserved `|` fails loudly —
    * it is the oracle replay's symbol delimiter (corpus contract,
    * same device as [[symbols]]).
    */
  def tableTokenCount(spark: SparkSession, text: Column): Column = {
    mergesParquet(spark) // oracle fixture must exist before DuckDB runs
    val guarded = when(text.rlike("[|]"),
      raise_error(concat(lit("Bpe: text contains reserved delimiter |: "), text)))
      .otherwise(text)
    graft.functions.BpeTableCount(guarded, tableVocab(spark))
  }

  /** DuckDB CTE block recomputing per-doc model-token counts from the
    * SAME merges parquet, by the ascending-candidate replay (valid by
    * the consistency theorem — see [[BpeVocab]]):
    *
    *   - `occ(doc_id, word)` must be defined by the caller (the
    *     corpus's word multiset);
    *   - every DISTINCT word is encoded once: its candidate merges
    *     are the vocab rows whose output is a SUBSTRING of the word
    *     (any BPE symbol is a contiguous substring of the original
    *     word, so non-candidates can never fire) found by an
    *     equi-join on the enumerated substrings — never a word ×
    *     vocab scan;
    *   - a recursive CTE applies the word's candidates in rank order,
    *     one literal `replace` per step (a no-op when the delimited
    *     pair is absent — exactly the ascending pass restricted to
    *     candidate ranks);
    *   - defines `wtok(word, wt)` and `dtok(doc_id, n_bpe)`.
    *
    * The caller's WITH must be `WITH RECURSIVE`.
    */
  def sqlTableCtes: String =
    s"""wd AS (SELECT DISTINCT word FROM occ WHERE length(word) > 0),
          m AS (SELECT rank, a, b, ab FROM read_parquet('${graft.util.Fixture.path("bpe_merges")}/*.parquet')),
          lens AS (SELECT unnest(range(2, ${TableMaxLen + 1})) AS l),
          pos AS (SELECT word, unnest(range(1, length(word) + 1)) AS i FROM wd),
          subs AS (
            SELECT DISTINCT pos.word,
                   substr(pos.word, CAST(pos.i AS INT), CAST(lens.l AS INT)) AS ss
            FROM pos, lens),
          cand AS (
            SELECT s.word, m.a, m.b,
                   row_number() OVER (PARTITION BY s.word ORDER BY m.rank) AS step
            FROM subs s JOIN m ON m.ab = s.ss),
          enc AS (
            SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s, 0 AS step
            FROM wd
            UNION ALL
            SELECT e.word,
                   replace(e.s, '|' || c.a || '||' || c.b || '|',
                           '|' || c.a || c.b || '|'),
                   e.step + 1
            FROM enc e JOIN cand c ON c.word = e.word AND c.step = e.step + 1),
          fin AS (
            SELECT word, s FROM (
              SELECT word, s, step, MAX(step) OVER (PARTITION BY word) AS ms
              FROM enc)
            WHERE step = ms),
          wtok AS (
            SELECT word,
                   CAST((length(s) - length(replace(s, '|', ''))) / 2 AS BIGINT) AS wt
            FROM fin),
          dtok AS (
            SELECT o.doc_id, CAST(SUM(w.wt) AS BIGINT) AS n_bpe
            FROM occ o JOIN wtok w USING (word) GROUP BY o.doc_id)"""
}
