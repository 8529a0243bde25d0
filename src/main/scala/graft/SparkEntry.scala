package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Cidr, RiskFeatures}
import graft.rules.{GraftConfig, RuleEngine}
import graft.session.Sessionizer
import graft.sources.ParseLogLine

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator declared done in SURVEY §2 has a `queries` entry (run
  * by Verify/Bench against the driver's parquet tables) and, where
  * ANSI-SQL-expressible, a DuckDB `oracleSql` twin. Column names/aliases
  * match pairwise — the driver sorts columns by name before hashing.
  */
object SparkEntry {

  private[graft] def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` arrives in one of three shapes depending on how the
    * driver generated the parquet and on the session config, so adapt by
    * the OBSERVED type rather than assuming one:
    *  - nanos LONG (TIMESTAMP(NANOS) parquet +
    *    `spark.sql.legacy.parquet.nanosAsLong=true`): convert with
    *    integer division (a double division would lose precision above
    *    2^53 nanos); [[graft.plans.NanoTsPushdown]] restores pushdown.
    *  - TIMESTAMP_NTZ (timestamp[us] parquet, no isAdjustedToUTC): cast
    *    to session-zoned timestamp — the session runs UTC, so values are
    *    identical and downstream `epoch`-based math is unchanged.
    *  - TIMESTAMP: already the canonical shape.
    */
  def eventsTable(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(s, dir, "events"))

  /** Normalize an event-shaped frame's `colName` to session-zoned
    * TIMESTAMP regardless of which physical shape the parquet carried
    * (see [[eventsTable]]). Shared by every direct `events.parquet`
    * reader so a driver-side regeneration of the testdata cannot break
    * one copy of the conversion silently.
    */
  def normalizeEventTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast("timestamp"))
      case _ => df
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the real log pipeline over synthetic apache lines generated
    * from the events table (parse -> normalize -> sessionize -> risk).
    */
  def entry(spark: SparkSession): DataFrame =
    Flagship.run(spark, "/root/testdata/sf0.001")

  /** Webshell basenames used by the oracle queries (mirrors the SQL twin
    * in PseudoLog.sqlUriRisk — keep in lockstep).
    */
  val oracleShells: Set[String] = Set("cmd.php", "shell.php", "c99.php", "alfa3.php", "1.php")

  /** Rule set for the q10 oracle: one rule per sigma operator class
    * (gte/lt numeric, contains, startswith, endswith, regex, in, notin,
    * cidr, bare field) with thresholds that actually fire on the
    * pseudo-log distribution.
    */
  val oracleRulesYaml: String =
    """- title: R1 High URI Risk OK
      |  detection: { selection: { uri_risk|gte: 70, status: [200, 201, 202] } }
      |  tags: [ { risk_score: 75.0 } ]
      |- title: R2 Whoami
      |  detection: { selection: { request_uri|contains: whoami, resp_size|gte: 10 } }
      |  tags: [ { risk_score: 71.1 } ]
      |- title: R3 Fofa Referrer
      |  detection: { selection: { referrer|startswith: "https://fofa" } }
      |  tags: [ { risk_score: 67.5 } ]
      |- title: R4 Scanner In Range
      |  detection: { selection: { ip|cidr: ["10.17.0.0/16", "10.42.0.0/16"], user_agent|endswith: "1.7" } }
      |  tags: [ { risk_score: 66.0 } ]
      |- title: R5 Session Repeats With Errors
      |  detection: { selection: { request_count|gte: 2, status: [500, 502, 503, 504] } }
      |  tags: [ { risk_score: 42.0 } ]
      |- title: R7 Status Risk
      |  detection: { selection: { status_risk|gte: 70 } }
      |  tags: [ { risk_score: 40.0 } ]
      |- title: R6 Risky Method On Static
      |  detection: { selection: { request_uri|regex: "p[0-9]+\\.css$", method|in: [PUT, DELETE] } }
      |  tags: [ { risk_score: 30.0 } ]
      |- title: R8 Unknown Method
      |  detection: { selection: { method|notin: [GET, POST, HEAD, PUT, DELETE], uri_risk|lt: 5 } }
      |  tags: [ { risk_score: 20.0 } ]""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2 — merged
    * from the per-domain registries under graft.registry (the map is
    * still the single driver contract; the split is file layout only).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.registry.CoreLogQueries.queries ++
    graft.registry.TextQueries.queries ++
    graft.registry.DedupQueries.queries ++
    graft.registry.VectorQueries.queries ++
    graft.registry.MultimodalQueries.queries ++
    graft.registry.PipelineQueries.queries ++
    graft.registry.GraphQueries.queries ++
    graft.registry.SearchQueries.queries ++
    graft.registry.SourceQueries.queries

  /** `queries` in name order (so the queries that absorb residual JIT
    * warmup stay the same run to run), only the named ones when `names`
    * is non-empty. Unknown names fail fast, citing `source`: a typo
    * would otherwise silently shrink a run to nothing.
    */
  def selectQueries(names: Iterable[String], source: String)
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val only = names.toSet
    val unknown = only -- all.keySet
    require(unknown.isEmpty,
      s"$source names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (name, _) => only.isEmpty || only(name) }
  }

  /** q130's static oracle: the q112 fixture rebuilt in SQL (repeat /
    * base64(unhex(md5)) / passthrough — all three arms verified
    * byte-identical across engines), the char histogram, and the
    * entropy fold in the same sorted-char order, rounded to 4.
    */
  private[graft] val oracleSqlQ130: String = {
    val soup = (0 until 10).map(i =>
      s"base64(unhex(md5('c$i:' || CAST(doc_id AS VARCHAR))))")
      .mkString(" || ")
    s"""WITH fx AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |      THEN repeat('spam spam spam spam ', 40) || coalesce(text, '')
       |    WHEN doc_id % 3 = 2 THEN $soup
       |    ELSE coalesce(text, '') END AS ftext
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, unnest(regexp_extract_all(ftext, '(?s).')) AS c
       |  FROM fx),
       |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
       |a AS (
       |  SELECT doc_id, list(n ORDER BY c) AS ns,
       |    CAST(sum(n) AS BIGINT) AS n_chars
       |  FROM cnt GROUP BY 1),
       |h AS (
       |  SELECT doc_id, n_chars,
       |    round(log2(CAST(n_chars AS DOUBLE)) -
       |      list_sum(list_transform(ns,
       |        n -> CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))) / n_chars,
       |      4) AS entropy
       |  FROM a)
       |SELECT doc_id, n_chars, entropy,
       |  CASE WHEN entropy < 2.5 THEN 'low_entropy'
       |       WHEN entropy > 5.2 THEN 'high_entropy'
       |       ELSE 'ok' END AS flag
       |FROM h""".stripMargin
  }

  private[graft] val monthNames: Seq[String] = Seq(
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December")

  /** ISO date with pattern-level month/day validation (no calendar
    * check — documented); `\b` is the ASCII word boundary in both
    * Java regex and RE2.
    */
  private[graft] val dateIsoPattern: String =
    "\\b(19[0-9][0-9]|20[0-2][0-9])-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])\\b"

  private[graft] val dateTextPattern: String =
    "\\b(" + monthNames.mkString("|") + ") ([1-9][0-9]?), (19[0-9][0-9]|20[0-2][0-9])\\b"

  /** q129's planted fixture: ISO / textual / invalid-decoy / both. */
  private[graft] def dateFixture(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      concat(
        when(col("doc_id") % 5 === 0, lit("Published 2021-07-05 · "))
          .when(col("doc_id") % 5 === 1, lit("Posted on March 9, 2019 · "))
          .when(col("doc_id") % 5 === 2, lit("ref 2021-13-40 build · "))
          .when(col("doc_id") % 5 === 3,
            lit("June 2, 2020 draft, final 2022-01-31 · "))
          .otherwise(lit("")),
        coalesce(col("text"), lit(""))).as("ftext"))

  /** q128's planted line fixture (the q81 discipline — corpus text is
    * one body line; rule-triggering lines plant around it).
    */
  private[graft] def gopherFixture(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0,
          lit("- item one\n- item two\n• item three\n")).otherwise(lit("")),
        coalesce(col("text"), lit("")), lit("\n"),
        when(col("doc_id") % 3 === 0,
          lit("click to read more...\n")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("### tags # index ## more #\n")).otherwise(lit("")),
        lit("plain closing line")).as("ftext"))

  /** q171's record-linkage fixture over `customer`: every customer is
    * a clean record (name = "customer " + 9-digit key); %3==0 keys
    * add a dirty twin (+100000, name + " inc" — Jaccard 2/3, same
    * nation/segment → above threshold), %5==0 keys add a same-block
    * DECOY (+200000, name + " llc corp", shifted nation — Jaccard
    * 1/2 and no nation bonus → below threshold). The 9-digit token is
    * the natural block key; different keys never share a block.
    */
  private[graft] def erFixture(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer")
    def digits: Column = lpad(col("c_custkey").cast("string"), 9, "0")
    def rec(idOff: Long, nameSuffix: String, nationShift: Boolean): Seq[Column] = Seq(
      (col("c_custkey") + idOff).cast("long").as("rec_id"),
      concat(lit("customer "), digits, lit(nameSuffix)).as("name"),
      (if (nationShift) (col("c_nationkey") + 1) % 25 else col("c_nationkey"))
        .cast("long").as("nation"),
      lower(col("c_mktsegment")).as("segment"))
    c.select(rec(0L, "", nationShift = false): _*)
      .unionByName(c.filter(col("c_custkey") % 3 === 0)
        .select(rec(100000L, " inc", nationShift = false): _*))
      .unionByName(c.filter(col("c_custkey") % 5 === 0)
        .select(rec(200000L, " llc corp", nationShift = true): _*))
  }

  /** q169's planted code documents (shared constants — the oracle
    * embeds them with newlines as a `<NL>` placeholder through
    * `replace(..., chr(10))`). The C doc carries an auto-generated
    * header (is_code true, stack_pass false); the Python doc is
    * indentation-shaped and clean (is_code true, stack_pass true).
    */
  private[graft] val cCodeDoc: String =
    "// Auto-generated by graft-bindgen. DO NOT EDIT.\n" +
      "#include <vector>\n" +
      "int main(int argc, char** argv) {\n" +
      "    int total = 0;\n" +
      "    for (int i = 0; i < argc; i++) { total += i; }\n" +
      "    return total;\n" +
      "}"

  private[graft] val pyCodeDoc: String =
    "def total_len(args):\n" +
      "    import sys\n" +
      "    total = 0\n" +
      "    for a in args:\n" +
      "        total += len(a)\n" +
      "    return total"

  /** q169's fixture: %6==0 docs become the C code doc, %6==3 the
    * Python doc, %6==5 keep their prose plus a planted 1200-char
    * line (trips the max-line-length rule); everything else is the
    * corpus prose untouched.
    */
  private[graft] def codeFixture(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 6 === 0, lit(cCodeDoc))
        .when(col("doc_id") % 6 === 3, lit(pyCodeDoc))
        .when(col("doc_id") % 6 === 5,
          concat(coalesce(col("text"), lit("")), lit("\n"),
            repeat(lit("z"), 1200)))
        .otherwise(coalesce(col("text"), lit(""))).as("ftext"))

  /** q126's fixture: a planted French tail (20 stopword tokens — at
    * least one full 16-token chunk classifies fr) on %6==0 docs.
    */
  private[graft] val frenchTail: String =
    "le la les et est un une dans que pour " +
      "le la les et est un une dans que pour"

  private[graft] def mixedLangFixture(
      s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 6 === 0,
        concat(coalesce(col("text"), lit("")), lit(" " + frenchTail)))
        .otherwise(coalesce(col("text"), lit(""))).as("ftext"))

  /** q125's fixture (shared construction, q112's discipline): planted
    * duplication for %5==0 docs — the first 40 chars appended twice.
    */
  private[graft] def repeatFixture(s: SparkSession, dir: String): DataFrame = {
    val base = coalesce(col("text"), lit(""))
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(base, lit(" "), substring(base, 1, 40), lit(" "),
          substring(base, 1, 40)))
        .otherwise(base).as("ftext"))
  }

  /** The q116/q117 model: shared constants (vocab 400, pieces ≤ 6
    * code points, 2 hard-EM iterations, corpus-exact refine) — the
    * oracle's independent trainer uses the same four numbers and
    * nothing else.
    */
  private[graft] def unigramModel(
      s: SparkSession, dir: String): graft.textops.Unigram.Model = {
    val docs = table(s, dir, "documents")
    val m0 = graft.textops.Unigram.train(
      docs, "text", vocabSize = 400, maxPieceLen = 6, emIters = 2)
    graft.textops.Unigram.refineCounts(s, docs, "text", m0, vocabSize = 400)
  }

  /** q112's three-regime fixture (shared with [[OracleGen]]'s
    * independent scorer — the scorer is the independent half, the
    * fixture construction is common, q25's key discipline).
    */
  private[graft] def compressionFixture(
      s: SparkSession, dir: String): DataFrame = {
    val b64soup = concat((0 until 10).map(i =>
      base64(unhex(md5(concat(lit(s"c$i:"), col("doc_id").cast("string")))))): _*)
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(expr("repeat('spam spam spam spam ', 40)"),
          coalesce(col("text"), lit(""))))
        .when(col("doc_id") % 3 === 2, b64soup)
        .otherwise(coalesce(col("text"), lit(""))).as("ftext"))
  }

  /** q115's planted page fixture: every doc is a page at a per-doc
    * base URL whose anchors cover the href-shape repertoire (shared
    * construction: the query reads this frame, the oracle rebuilds the
    * same strings in SQL — the q111/q113 fixture discipline).
    */
  private[graft] def linkFixture(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def n(m: Int) = (id % m).cast("string")
    val html = concat(
      lit("<p>intro</p><a href=\"https://ext"), n(5),
      lit(".example.org/x/y?z="), id.cast("string"), lit("\">abs</a>"),
      lit("<A HREF='//cdn"), n(3), lit(".example.net/asset.js'>proto</A>"),
      lit("<a class=\"m\" href=/r/p"), n(11), lit(">rooted</a>"),
      lit("<a href=\"sub/item"), id.cast("string"), lit(".html\">rel</a>"),
      lit("<a href=\"../up/i"), n(4), lit("\">up</a>"),
      when(id % 2 === 0, lit("<a href=\"javascript:void(0)\">js</a>"))
        .otherwise(lit("")),
      when(id % 3 === 0, lit("<a href=\"mailto:x@example.com\">m</a>"))
        .otherwise(lit("")),
      lit("<a href=\"./here.html?q="), n(6), lit("\">dot</a>"),
      when(id % 5 === 0, lit("<a href=\"\">empty</a>")).otherwise(lit("")),
      when(id % 4 === 1, lit("<a href=\"#top\">top</a>")).otherwise(lit("")),
      lit("<img href=\"/not-anchor\"><a name=\"x\">none</a>"))
    table(s, dir, "documents").select(id,
      concat(lit("https://host"), n(7), lit(".example.com/a/b/page"),
        id.cast("string"), lit(".html")).as("page_url"),
      html.as("html"))
  }

  /** q109's fixture directory — deterministic per (sf dir, process):
    * the write is part of the measured query, a real render+ingest
    * round trip, and the PID suffix keeps concurrent sessions on the
    * same sf dir (Verify while Bench runs) from deleting each other's
    * fixture mid-read.
    */
  private[graft] def warcFixtureDir(dir: String): String =
    perProcessTmpDir("graft-warc-fixture-" + dir.replaceAll("[^A-Za-z0-9]", "_"))

  /** Per-process temp dir with shutdown-hook cleanup: the PID suffix
    * that ends the Verify-vs-Bench race would otherwise leak one
    * fixture/shard dir per process into java.io.tmpdir forever.
    */
  private[graft] def perProcessTmpDir(stem: String): String = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      stem + "-p" + ProcessHandle.current().pid())
    val path = f.getAbsolutePath
    cleanupDirs.add(path)
    if (cleanupHookArmed.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        cleanupDirs.forEach { p =>
          def rm(x: java.io.File): Unit = {
            val kids = x.listFiles()
            if (kids != null) kids.foreach(rm)
            x.delete()
            ()
          }
          try rm(new java.io.File(p)) catch { case _: Throwable => () }
        }))
    path
  }

  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val cleanupHookArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** q107/q108 sentence fixture: one prefix exercising every
    * [[graft.textops.TextAnalysis.sentences]] protection rule, shared
    * with the DuckDB oracles (which re-run the same regex pipeline).
    */
  private[graft] val sentenceFixturePrefix: String =
    "Dr. Smith paid 3.14 to Acme Inc. on Jan 5. Hmm... so it goes on! " +
      "Was it e.g. worth it? Yes. "

  /** Multi-line fixture for the line-dedup family (q81): the corpus
    * text has no newlines, so template lines are planted around it —
    * the q72 messy-URL-fixture discipline. Shared by the query and
    * [[OracleGen]]-free static oracle (which rebuilds it in SQL).
    */
  private[graft] def lineFixture(
      s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("NAV: home | about | contact\n"),
        when(col("doc_id") % 3 === 0,
          lit("subscribe to our newsletter\n")).otherwise(lit("")),
        coalesce(col("text"), lit("")), lit("\n"),
        lit("permalink doc-"), col("doc_id").cast("string"), lit("\n"),
        lit("copyright example corp all rights reserved")).as("text"))

  /** Multi-paragraph fixture for keep-first paragraph dedup (q138):
    * corpus text has no newlines, so paragraphs are planted around it —
    * a universal intro + footer (kept only in the smallest doc id), an
    * every-3rd-doc promo (its %7 variant carries leading spaces, so
    * the trimmed-match rule is exercised), an every-5th-doc
    * whitespace-only paragraph (structure — never dropped), the doc's
    * own text, and a per-doc unique permalink. Shared by the query and
    * the static oracle, which rebuilds it in SQL.
    */
  private[graft] def paragraphFixture(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("welcome to the graft sample corpus"),
        when(col("doc_id") % 3 === 0,
          when(col("doc_id") % 7 === 0,
            lit("\n\n  subscribe to our newsletter today"))
            .otherwise(lit("\n\nsubscribe to our newsletter today")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\n\n  ")).otherwise(lit("")),
        lit("\n\n"), coalesce(col("text"), lit("")),
        lit("\n\npermalink doc-"), col("doc_id").cast("string"),
        lit("\n\nshared footer all rights reserved")).as("text"))

  /** Anchor-element fixture for the anchor-text aggregation (q140):
    * every doc links two hosts with real anchor text (one with a
    * nested `<b>` tag, one with messy whitespace), every 4th adds an
    * image link (empty visible text), every 5th a `javascript:` ref
    * (dropped by resolution), every 7th an UPPERCASE-tag anchor. All
    * hrefs are absolute lowercase-scheme http(s), so the static
    * oracle's resolution is identity and host extraction is the q86
    * regex. Shared by the query and its static oracle.
    */
  private[graft] def anchorFixture(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    table(s, dir, "documents").select(id,
      concat(lit("https://src"), (id % 6).cast("string"),
        lit(".example/page/"), id.cast("string")).as("page_url"),
      concat(
        lit("<p>intro "), id.cast("string"), lit("</p>"),
        lit("<a href=\"https://h"), (id % 10).cast("string"),
        lit(".example/p/"), (id % 25).cast("string"),
        lit("\">Read <b>more</b> now</a>"),
        lit("<a href='https://h"), ((id * 3 + 1) % 10).cast("string"),
        lit(".example/next'>  Next\n page  </a>"),
        when(id % 4 === 0,
          concat(lit("<a href=https://h"), (id % 10).cast("string"),
            lit(".example/img><img src=\"i.png\"/></a>"))).otherwise(lit("")),
        when(id % 5 === 0,
          lit("<a href=\"javascript:void(0)\">Click</a>")).otherwise(lit("")),
        when(id % 7 === 0,
          lit("<A HREF=\"https://h3.example/up\">CAPS  anchor</A>"))
          .otherwise(lit(""))).as("html"))
  }

  /** Fixed corpus bound for the uncapped near-dup recall gates. */
  private[graft] val gateDocs = 500

  /** 20-token licence-block boilerplate planted on every 5th document
    * for the substring-dedup gate (q53) — long enough that its interior
    * holds many duplicated 8-token windows whose merged coverage is the
    * whole block.
    */
  private[graft] val spanBoiler: String =
    "terms of use this document is provided under the graft sample " +
      "license with no warranty of any kind whatsoever amen"

  /** Two literal eval-benchmark probes (>= 8 lowered tokens each) for
    * the decontamination gate (q61): planted into corpus docs on
    * doc_id%7 in {3,5} and present in the eval corpus, so a correct
    * decontaminator must flag exactly those docs (plus the leaked
    * every-97th eval docs and any natural overlap, which the oracle
    * recomputes identically).
    */
  /** Two spam variants for the quality-classifier fixture (q73):
    * planted over doc_id%4==0 documents, so the labeled slice is
    * linearly separable on hashed token/bigram features. Repeated 6x
    * so spam n-gram mass dominates each bad document.
    */
  private[graft] val spamA: String =
    "buy cheap pills online now best price guaranteed limited offer"
  private[graft] val spamB: String =
    "click here to win free prize money today instant payout"

  /** The q73 labeled corpus: every 4th document's text replaced by
    * repeated spam (label=false), the rest kept raw (label=true).
    */
  private[graft] def qualityLabeledDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        when(col("doc_id") % 8 === 0, concat_ws(" ", Seq.fill(6)(lit(spamA)): _*))
          .otherwise(concat_ws(" ", Seq.fill(6)(lit(spamB)): _*)))
        .otherwise(col("text")).as("text"),
      (col("doc_id") % 4 =!= 0).as("label"))

  private[graft] val evalProbe1: String =
    "held out benchmark question what is the capital of freedonia answer unknown"
  private[graft] val evalProbe2: String =
    "count the exact number of tokens in this held out evaluation prompt"

  /** q160's clean benchmark: nonsense tokens that occur nowhere in the
    * corpus, so its leak fraction must be exactly zero in every
    * snapshot — the dashboard's negative control.
    */
  private[graft] val cleanProbe: String =
    "zyqv one zyqv two zyqv three zyqv four zyqv five zyqv six"

  /** The q61/q65 eval corpus: every 97th document's raw text (the
    * leaked-eval-doc stand-in) plus the two literal probes. ONE
    * definition — the two queries and both oracles' `evals` CTEs must
    * stay in lockstep.
    */
  private[graft] def evalCorpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .filter(col("doc_id") % 97 === 0).select(col("text"))
      .unionByName(s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(evalProbe1), org.apache.spark.sql.Row(evalProbe2)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "text", org.apache.spark.sql.types.StringType)))))

  /** Exact-copy documents shifted by 100000 — the planted truth set for
    * the near-dup recall gates.
    */
  private[graft] def twinDocs(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + 100000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))

  /** Embeddings plus an exact twin of every vector (vec_id + 100000) —
    * for each query the true nearest non-self neighbor is its twin at
    * cosine 1.0, which the oracle re-derives by brute force.
    */
  private[graft] def twinEmbeddings(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding")))

  /** Jitter coefficient for [[jitterTwinEmbeddings]] — sized so a
    * fair fraction of twins cross an IVF cell boundary (the regime
    * where plain IVF at nprobe=1 is structurally blind) while every
    * twin stays its query's true nearest neighbor by a wide margin.
    */
  private[graft] val jitterC: Double = 0.35

  /** Embeddings plus a JITTERED twin of every vector: twin =
    * x + [[jitterC]]·reverse(x) — reverse(x) is near-orthogonal to x
    * on this corpus (avg |x·rev| ≈ 0.14), so the twin sits a real
    * ~19° rotation away (cosine ≈ 0.94, still far above the 0.51
    * natural-neighbor ceiling, so every twin stays its query's true
    * NN). Pure IEEE mul/add on doubles, expressed identically in
    * DuckDB (`list_transform(list_zip(v, list_reverse(v)), ...)`).
    * Unlike [[twinEmbeddings]]' exact copies (which always co-locate
    * with their query, so every cell-partitioned method scores 1.0),
    * a real rotation sends a fair share of twins across an IVF cell
    * boundary — the fixture that separates graph search (cross-cell
    * edges) from plain IVF at the same probe budget.
    */
  private[graft] def jitterTwinEmbeddings(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(emb.select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(
          transform(col("embedding"), x => x.cast("double")),
          reverse(transform(col("embedding"), x => x.cast("double"))),
          (a, b) => a + lit(jitterC) * b).as("embedding")))

  /** Quantizer size for the graph-ANN fixture, SIZED TO THE CORPUS:
    * nlist = max(64, ceil(rows/160)) keeps within-cell populations
    * ~160-320 regardless of corpus size, so the per-cell kNN build
    * stays linear overall (at a FIXED nlist the cells — and the
    * quadratic inside them — grow with the data: ScaleSuite measured
    * 26x wall at 10x rows before this). This is the honest 100 TB
    * rule: the coarse quantizer grows with the corpus. Deterministic
    * per sf dir, so the oracle generator replays the same value.
    */
  private[graft] def graphNlist(corpus: DataFrame): Int = {
    val n = corpus.count()
    math.max(64L, (n + 159L) / 160L).toInt
  }

  /** q78's cluster count, SIZED TO THE CORPUS (the [[graphNlist]]
    * rule): nClusters = max(8, ceil(rows/256)) bounds within-cell
    * populations, so the blocked pair join stays linear overall
    * (fixed 8 clusters made cells — and the quadratic inside them —
    * grow with the data: 31.9 s of the q78 ScaleSuite row at sf~1).
    * 8 at both oracle-gate sfs, so gate values are unchanged.
    */
  private[graft] def semDedupClusters(corpus: DataFrame): Int = {
    val n = corpus.count()
    math.max(8L, (n + 255L) / 256L).toInt
  }

  /** (family, n_truth, n_found, recall_x10000) for a truth pair set vs a
    * found pair set.
    */
  private[graft] def recallOf(family: String, truth: DataFrame, pairs: DataFrame): DataFrame =
    truth
      .join(pairs.select(col("id_a"), col("id_b")).withColumn("_hit", lit(1L)),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_found"))
      .select(lit(family).as("family"), col("n_truth"), col("n_found"),
        floor(lit(10000) * col("n_found") / col("n_truth")).cast("long").as("recall_x10000"))

  /** Twin-recall@1 from an ANN result frame: the rank-1 neighbor of
    * query q must be its planted twin q + 100000.
    */
  private[graft] def twinRecallOf(family: String, res: DataFrame): DataFrame =
    res.filter(col("rank") === 1)
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("neighbor_id") === col("query_id") + 100000, 1L).otherwise(0L)).as("n_found"))
      .select(lit(family).as("family"), col("n_truth"), col("n_found"),
        floor(lit(10000) * col("n_found") / col("n_truth")).cast("long").as("recall_x10000"))

  /** Embeddings plus one near-duplicate of each (every element +0.01,
    * double arithmetic — expressible identically in DuckDB's
    * `list_transform`, so the cosine values oracle-match exactly).
    */
  def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(emb.select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") + 0.01).as("embedding")))
  }

  /** Documents plus one near-duplicate of each (one appended token) —
    * deterministic planted ground truth for the near-dup operators.
    */
  def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    docs.unionByName(docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" graftdup")).as("text"),
      col("lang"), col("source"), col("n_chars")))
  }

  /** Bounded twin-planted image corpus for the perceptual-hash family
    * (q62/q63): real structured PNGs for doc ids < [[gateDocs]], plus a
    * byte-distinct brightness-shifted twin of each at id + 100000 —
    * identical dHash (gradient comparisons are shift-invariant),
    * different md5. Shared with [[OracleGen.imageNearDupOracle]] so the
    * engine and oracle hash the same bytes.
    */
  def imageTwinCorpus(s: SparkSession, dir: String): DataFrame = {
    val ids = table(s, dir, "documents")
      .filter(col("doc_id") < gateDocs).select(col("doc_id"))
    graft.multimodal.Multimodal.patternImages(
      ids.unionByName(ids.select((col("doc_id") + 100000).as("doc_id"))),
      "doc_id", twinOffset = 100000L, brightnessStep = 4)
  }

  /** Stages 1–4b of the curation-pipeline flagship (q65): clean →
    * lang-id → quality filter → content gate (blocked-phrase drop) →
    * exact dedup (keep smallest doc_id per identical cleaned text,
    * md5-keyed so the shuffle carries a hash, not the payload). Shared
    * with [[OracleGen.curationOracle]], which embeds the stage-4
    * corpus's minhash keys for the near-dup stage.
    * Returns (doc_id, lang_pred, text).
    */
  def curationStage4(s: SparkSession, dir: String): DataFrame = {
    // widen: stages 1-3 are one narrow chain (clean + lang-id +
    // quality + phrase gate) over the scan's partitioning — ONE task
    // at bench scale, 3.8 s of serialized CPU (see operators.Widen).
    // checkpoint `cleaned`: TWO consumers (the quality chain and the
    // phrase-gate probe side) otherwise inline the cleanText subtree
    // each — only the widen exchange below it is reused, so the
    // heaviest expression of the whole pipeline evaluated twice
    // (round-17 probe: the staged chain runs ~1.7 s warm vs 3.7 s
    // monolithic at sf0.1). Byte-guarded: above the guard nothing is
    // materialized and both consumers recompute the cleaning
    val cleaned = graft.operators.Widen.materialize(
      graft.operators.Widen.widen(table(s, dir, "documents"))
        .select(col("doc_id"),
          graft.textops.TextAnalysis.cleanText(col("text"), stripTags = true).as("text")))
    val withLang = cleaned.withColumn("lang_pred",
      graft.textops.TextAnalysis.languageId(col("text")))
    val quality = withLang
      .withColumn("_v", graft.textops.TextAnalysis.qualityVerdict(col("text")))
      .filter(col("_v.keep")).drop("_v")
    // content gate (the C4-style badwords filter, q99's machinery, one
    // blocked trigram here): runs BEFORE dedup so blocked documents
    // never cost candidate-generation work downstream. The blocked-id
    // side derives from `cleaned` (stage 1), NOT `quality` — the gate
    // only needs the text column, and an anti-join against the quality
    // frame would re-evaluate the whole lang-id + verdict subtree for
    // the probe side
    val gated = quality.join(
      graft.textops.TextIndex.phraseSearch(cleaned, "doc_id", "text",
          curationBlockedPhrase).select(col("id").as("_blk")),
      col("doc_id") === col("_blk"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    // widen the RETURN: the md5-dedup window's exchange AQE-coalesces
    // to one partition at bench bytes, so callers that checkpoint this
    // frame (q65) materialize 1-wide and every downstream narrow pass
    // (minhash shingles, span dedup, decontaminate) starts serialized
    graft.operators.Widen.widen(
      gated.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn"))
  }

  /** The flagship's blocked phrase (shared with
    * [[OracleGen.curationOracle]]'s chit CTE).
    */
  val curationBlockedPhrase: Seq[String] = Seq("slow", "hash", "batch")

  // ----------------------------------------------------------------
  // q131 crawl->corpus flagship: fixture + shared pipeline stages
  // (the round-10 verdict item 1 — one oracled run from raw WARC
  // bytes to manifested training shards)
  // ----------------------------------------------------------------

  /** Mojibake plant for q131 (the q121 %4==0 repertoire): UTF-8 bytes
    * of "café résumé " mis-decoded as Latin-1. Planted only on docs
    * whose corpus text is pure ASCII (the fixture guard below), so the
    * whole-string repair provably fires exactly on the planted docs.
    */
  private[graft] val crawlMojiRaw: String = "cafÃ© rÃ©sumÃ© "
  private[graft] val crawlMojiFixed: String = "café résumé "

  /** Low-entropy-but-quality-passing soup for q131's entropy gate: 15
    * distinct {a,b}-alphabet tokens (repetition ratio 0, stopword 'a'
    * present, no punctuation) whose char entropy ~1.56 < 2.5 — the one
    * regime the q52-style token verdict cannot reject.
    */
  private[graft] val crawlSoup: String =
    "a aa ab ba bb aab abb bab bba aaa bbb aabb abba baab babb"

  /** q131 page fixture: one crawlable HTML page per document —
    * the q111 boilerplate shape (link-dense nav/footer, short
    * heading/note blocks, optional promo) around a planted body, plus
    * a Target-URI whose canonical form collides mod 400 (the q72
    * dedup surface). Body plants, mutually exclusive by CASE priority:
    * %19==4 low-entropy soup, %17==2 a leading "• " bullet (the
    * gopher line gate; U+2022 maps to CP1252 0x95, an invalid lone
    * continuation byte, so mojibake repair provably leaves these
    * docs untouched), %11==3 the mojibake mis-decode prefix (ASCII
    * corpus text only — verified pure-ASCII at every shipped sf).
    * Returns (doc_id, page_url, html).
    */
  private[graft] def crawlPages(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = coalesce(col("text"), lit(""))
    val asciiOnly = !t.rlike("[^\\x00-\\x7F]")
    val body = when(id % 19 === 4, lit(crawlSoup))
      .when(id % 17 === 2, concat(lit("• "), t))
      .when(id % 11 === 3 && asciiOnly, concat(lit(crawlMojiRaw), t))
      .otherwise(t)
    val pageUrl = concat(
      lit("https://H"), (id % 4).cast("string"), lit(".Example.com/p/"),
      (id % 400).cast("string"),
      when(id % 3 === 0, lit("?utm_source=feed&utm_campaign=crawl"))
        .otherwise(lit("")))
    table(s, dir, "documents").select(id, pageUrl.as("page_url"),
      concat(
        lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact menu links</a></div>"),
        lit("<h1>Title "), id.cast("string"), lit("</h1>"),
        lit("<p>"), body, lit("</p>"),
        when(id % 3 === 0,
          lit("<div class=\"promo\"><a href=\"/sub\">subscribe to our " +
            "newsletter today</a></div>")).otherwise(lit("")),
        lit("<p>Short note.</p>"),
        lit("<footer><a href=\"/t\">terms</a> <a href=\"/p\">privacy</a> " +
          "<a href=\"/c\">copyright example corp</a></footer>")).as("html"))
  }

  /** q131 stages 2-6 over ingested pages (doc_id, target_uri, html):
    * main-content block extraction -> mojibake repair -> language /
    * quality / gopher-line-shape / char-entropy gates. All narrow
    * codegen'd projections + filters — zero exchanges. Shared with
    * [[OracleGen.crawlCorpusOracle]], which replays the same stages
    * from the documents table to harvest the minhash keys.
    */
  private[graft] def crawlGated(pages: DataFrame): DataFrame = {
    import graft.textops.TextAnalysis
    // checkpoint the extracted text ONCE: four gates consume it, and
    // without the cut Catalyst inlines the mainContent+repair subtree
    // into EVERY gate expression (measured 22 s vs 9 s sum-of-stages
    // at sf0.1 — the q65 staging discipline)
    // widen first: mainContent+mojibake AND the four gates below are
    // narrow CPU over whatever partitioning the WARC read produced
    // (one task at bench scale); the checkpoint then materializes
    // wide, so every downstream gate inherits the parallelism
    val content = graft.operators.Widen.widen(pages)
      .select(col("doc_id"), col("target_uri"),
      graft.textops.Mojibake.fix_mojibake(
        graft.textops.MainContent.mainContent(col("html"))).as("text"))
      .localCheckpoint()
    val lang = content
      .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
      .filter(col("lang_pred") =!= "und")
    val qual = lang
      .withColumn("_v", TextAnalysis.qualityVerdict(col("text")))
      .filter(col("_v.keep")).drop("_v")
    // gopher line-shape gate (q128 rules; post-collapse text is one
    // line, so a leading bullet makes the fraction 10000)
    val lines = filter(split(col("text"), "\n"), l => length(trim(l)) > 0)
    val nLines = greatest(size(lines), lit(1)).cast("long")
    val bullets = size(filter(lines, l =>
      trim(l).startsWith("- ") || trim(l).startsWith("•"))).cast("long")
    val ellip = size(filter(lines, l => trim(l).endsWith("..."))).cast("long")
    val words = greatest(size(TextAnalysis.tokens(col("text"))), lit(1))
      .cast("long")
    val hashes = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    // multiplicative form of the q128 thresholds (exact integer
    // comparison, no division): frac_x10000 <= T  ⇔  cnt*10000 <= T*n
    // is the MainContent keep-rule shape; the oracle mirrors it
    val gopher = qual.filter(
      bullets * 10000L <= lit(9000L) * nLines &&
        ellip * 10000L <= lit(3000L) * nLines &&
        hashes * 10000L <= lit(1000L) * words)
    // char-entropy gate (q130 constants on the rounded value)
    gopher
      .withColumn("_H", round(TextAnalysis.charEntropy(col("text")), 4))
      .filter(col("_H") >= 2.5 && col("_H") <= 5.2)
      .drop("_H")
  }

  /** q131 stage 7: canonical-URL exact dedup (q72's operator) — keep
    * the smallest doc_id per canonical Target-URI. Output:
    * (doc_id, lang_pred, text).
    */
  private[graft] def crawlUrlDeduped(gated: DataFrame): DataFrame =
    graft.operators.Dedup.exact(
      gated.withColumn("_canon",
        graft.functions.UrlCanon.canonicalize_url(col("target_uri"))),
      Seq(col("_canon")), col("doc_id"))
      .select(col("doc_id"), col("lang_pred"), col("text"))

  /** q132 fixture: docs with doc_id % 5 == 2 and doc_id >= 200 append
    * a one-token filler (misaligning the copy) plus a 23-token slice
    * (offset doc_id % 11) copied VERBATIM from source doc
    * (doc_id*31 + 7) % 200 — a k-misaligned cross-doc exact duplicate
    * whose boundaries the exact-span detector must recover precisely.
    * Sources sit below every copier id, so first-occurrence keeps the
    * source side. Natural corpus repeats surface too; the static
    * oracle recomputes everything from scratch.
    */
  private[graft] def exactSpanFixture(s: SparkSession, dir: String): DataFrame = {
    val toks = (c: Column) =>
      filter(split(c, "[ \\t\\n\\x0B\\f\\r]+"), x => x =!= "")
    val src = table(s, dir, "documents").select(
      col("doc_id").as("_sid"), coalesce(col("text"), lit("")).as("_stext"))
    table(s, dir, "documents")
      .join(src, col("_sid") === pmod(col("doc_id") * 31 + 7, lit(200)), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 2 && col("doc_id") >= 200,
          concat(coalesce(col("text"), lit("")),
            lit(" filler"), pmod(col("doc_id"), lit(7)).cast("string"), lit(" "),
            array_join(slice(toks(col("_stext")),
              (pmod(col("doc_id"), lit(11)) + 1).cast("int"), lit(23)), " ")))
          .otherwise(coalesce(col("text"), lit(""))).as("ftext"))
  }

  /** q135 fixture: deterministic five-language labeled corpus — one
    * row per document id, label = langs(doc_id % 5), text = two
    * phrases from the language's pool (variant-indexed by doc_id) plus
    * a language-neutral numeral token (shared noise the classifier
    * must see past). Pure function of doc_id, shared verbatim with
    * [[OracleGen.langClassifierOracle]].
    */
  private[graft] val langPools: Map[String, Seq[String]] = Map(
    "en" -> Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "a quiet morning with strong coffee and an old book is enough",
      "they walked through the market and bought fresh bread and cheese",
      "rain kept falling on the roof while the children played inside"),
    "de" -> Seq(
      "der schnelle braune fuchs springt über den faulen hund am flussufer",
      "ein ruhiger morgen mit starkem kaffee und einem alten buch genügt",
      "sie gingen über den markt und kauften frisches brot und käse",
      "der regen fiel auf das dach während die kinder drinnen spielten"),
    "fr" -> Seq(
      "le rapide renard brun saute par dessus le chien paresseux près de la rivière",
      "un matin calme avec un café fort et un vieux livre suffit",
      "ils ont traversé le marché et acheté du pain frais et du fromage",
      "la pluie tombait sur le toit pendant que les enfants jouaient dedans"),
    "es" -> Seq(
      "el rápido zorro marrón salta sobre el perro perezoso junto al río",
      "una mañana tranquila con café fuerte y un libro viejo es suficiente",
      "caminaron por el mercado y compraron pan fresco y queso",
      "la lluvia caía sobre el techo mientras los niños jugaban dentro"),
    "it" -> Seq(
      "la veloce volpe marrone salta sopra il cane pigro vicino al fiume",
      "una mattina tranquilla con caffè forte e un vecchio libro basta",
      "hanno attraversato il mercato e comprato pane fresco e formaggio",
      "la pioggia cadeva sul tetto mentre i bambini giocavano dentro"))

  private[graft] val langPoolOrder: Seq[String] = Seq("en", "de", "fr", "es", "it")

  private[graft] def langText(docId: Long): (String, String) = {
    val label = langPoolOrder((docId % 5).toInt)
    val pool = langPools(label)
    val text = pool(((docId / 5) % 4).toInt) + " " +
      pool(((docId / 20) % 4).toInt) + " " + (docId % 100)
    (label, text)
  }

  /** q136 fixture: structured HTML per document — a header-rowed
    * table (%2==0, with a stray inline tag in a header cell), a
    * multi-line `<pre><code>` block (%3==0, indentation + newlines
    * that MUST survive), an unordered list (%4==0, inline tag in an
    * item), an ordered list (%5==0), and always a prose paragraph +
    * a comment-wrapped decoy table that extraction must ignore.
    */
  private[graft] def htmlStructFixture(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def n(m: Int) = (id % m).cast("string")
    val html = concat(
      lit("<h1>Doc "), id.cast("string"), lit("</h1>"),
      lit("<!-- <table><tr><td>decoy</td></tr></table> -->"),
      when(id % 2 === 0, concat(
        lit("<table><tr><th>name</th><th>count <b>total</b></th></tr>" +
          "<tr><td>alpha "), id.cast("string"),
        lit("</td><td>"), n(7),
        lit("</td></tr><tr><td>beta</td><td>"), n(3),
        lit("</td></tr></table>"))).otherwise(lit("")),
      lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
      when(id % 3 === 0, concat(
        lit("<pre><code>def f(x):\n    return x + "), n(9),
        lit("\n</code></pre>"))).otherwise(lit("")),
      when(id % 4 === 0, concat(
        lit("<ul><li>item one of "), id.cast("string"),
        lit("</li><li>second <i>item</i></li><li>third</li></ul>")))
        .otherwise(lit("")),
      when(id % 5 === 0, concat(
        lit("<ol><li>first step</li><li>step "), n(5),
        lit("</li></ol>"))).otherwise(lit("")))
    table(s, dir, "documents").select(id, html.as("html"))
  }

  /** q73's trained weights, memoized per sf dir — the q135
    * discipline applied back to the binary classifier: the labeled
    * slice caps at 700 ids (labeled sets are curated and small; the
    * unbounded %10<3 slice made training cost grow with the corpus —
    * 15 s of the q73 ScaleSuite row at sf~1), and the deterministic
    * fit is shared by Verify/Bench passes and the oracle generator.
    */
  private[graft] def qualityModelFor(
      s: SparkSession, dir: String): graft.textops.QualityClassifier.Weights =
    qualityModelMemo.computeIfAbsent(dir, _ =>
      graft.textops.QualityClassifier.train(
        qualityLabeledDocs(s, dir)
          .filter(col("doc_id") % 10 < 3 && col("doc_id") < 700),
        "text", "label", "doc_id"))

  private val qualityModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.textops.QualityClassifier.Weights]()

  /** q135's trained model, memoized per sf dir: the trainer is
    * deterministic on its ordered bounded slice (%7<5, doc_id<700 —
    * labeled sets are curated and SMALL; they do not grow with the
    * corpus), so Verify/Bench passes and the oracle generator all
    * share one fit — the [[graft.vector.Ivf]] quantizer-memo
    * discipline.
    */
  private[graft] def langModelFor(
      s: SparkSession, dir: String): graft.textops.LangClassifier.Model =
    langModelMemo.computeIfAbsent(dir, _ =>
      graft.textops.LangClassifier.train(
        langLabeledDocs(s, dir)
          .filter(col("doc_id") % 7 < 5 && col("doc_id") < 700),
        "text", "label", "doc_id"))

  private val langModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.textops.LangClassifier.Model]()

  private[graft] def langLabeledDocs(s: SparkSession, dir: String): DataFrame = {
    val langArr = array(langPoolOrder.map(lit): _*)
    val v1 = pmod(expr("doc_id DIV 5"), lit(4)).cast("int")
    val v2 = pmod(expr("doc_id DIV 20"), lit(4)).cast("int")
    val phrase = (v: Column) =>
      langPoolOrder.zipWithIndex.foldLeft(lit(""): Column) { case (acc, (l, i)) =>
        when(col("doc_id") % 5 === i,
          element_at(array(langPools(l).map(lit): _*), v + 1)).otherwise(acc)
      }
    table(s, dir, "documents").select(col("doc_id"),
      element_at(langArr, (col("doc_id") % 5 + 1).cast("int")).as("label"),
      concat(phrase(v1), lit(" "), phrase(v2), lit(" "),
        (col("doc_id") % 100).cast("string")).as("text"))
  }

  /** q131's WARC fixture / shard output dirs — per (sf dir, process),
    * the [[warcFixtureDir]] discipline.
    */
  private[graft] def crawlFixtureDir(dir: String, leaf: String): String =
    perProcessTmpDir("graft-" + leaf + "-" + dir.replaceAll("[^A-Za-z0-9]", "_"))

  /** Bounded twin-planted AUDIO corpus for the perceptual-hash family
    * (q66/q67): structured PCM WAVs for doc ids < [[gateDocs]] plus a
    * half-gain twin of each at id + 100000 — byte-distinct,
    * audioHash64-identical (energy gradients are gain-invariant).
    * Shared with [[OracleGen.audioNearDupOracle]].
    */
  def audioTwinCorpus(s: SparkSession, dir: String): DataFrame = {
    val ids = table(s, dir, "documents")
      .filter(col("doc_id") < gateDocs).select(col("doc_id"))
    graft.multimodal.Multimodal.patternWavs(
      ids.unionByName(ids.select((col("doc_id") + 100000).as("doc_id"))),
      "doc_id", twinOffset = 100000L)
  }

  /** Bounded twin-planted VIDEO corpus for the perceptual-hash family
    * (q68/q69): structured MJPEG-in-AVI payloads for doc ids <
    * [[gateDocs]] plus a re-edit twin of each at id + 100000 — even
    * (sampled) frames byte-identical, odd frames distinct. Shared with
    * [[OracleGen.videoNearDupOracle]].
    */
  def videoTwinCorpus(s: SparkSession, dir: String): DataFrame = {
    val ids = table(s, dir, "documents")
      .filter(col("doc_id") < gateDocs).select(col("doc_id"))
    graft.multimodal.Multimodal.patternAvis(
      ids.unionByName(ids.select((col("doc_id") + 100000).as("doc_id"))),
      "doc_id", twinOffset = 100000L)
  }

  /** The q68/q69 sampled-frame hash frame over [[videoTwinCorpus]] —
    * one definition for both queries and the generated oracle.
    */
  def videoFrameHashFrame(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.videoFrameHashes(
      videoTwinCorpus(s, dir), stride = 2, maxFrames = 4)
      .select(col("media_id").as("id"), col("fhash").as("fp"))
      .distinct()

  /** Shared oracle for q4/q17 — both sessionizer implementations must
    * hash-match the same SQL. */
  private[graft] val oracleSqlQ4: String =
    """WITH logs AS (
        |  SELECT event_id, event_type AS source, CAST(user_id AS VARCHAR) AS ip,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep
        |  FROM events),
        |lagged AS (
        |  SELECT *, CASE WHEN ep - lag(ep) OVER w >= 300 THEN 1 ELSE 0 END AS new_s
        |  FROM logs WINDOW w AS (PARTITION BY source, ip ORDER BY ep, event_id)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY source, ip ORDER BY ep, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS local_id
        |  FROM lagged),
        |keys AS (SELECT DISTINCT source, ip, local_id FROM sess),
        |numbered AS (
        |  SELECT source, ip, local_id,
        |         row_number() OVER (ORDER BY source, ip, local_id) - 1 AS cluster
        |  FROM keys)
        |SELECT s.event_id, n.cluster
        |FROM sess s JOIN numbered n USING (source, ip, local_id)""".stripMargin

  /** `events` with `ts` as an epoch-NANOS long whatever the physical
    * parquet shape — q46/q50's as-of machinery (and its hourly
    * chunkSize) works in nanos, matching the oracle's `epoch_ns(ts)`.
    * Micros→nanos multiplication cannot overflow for any timestamp
    * DuckDB itself can represent (|micros| < 2^62/1000).
    */
  private[graft] def eventsNanos(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val ev = table(s, dir, "events")
    ev.schema("ts").dataType match {
      case LongType => ev
      case _ => normalizeEventTs(ev)
        .withColumn("ts", expr("unix_micros(ts) * 1000L"))
    }
  }

  /** q46/q50's checkpoint frame, deduped to ONE row per (user_id, ts):
    * DuckDB's ASOF JOIN picks an ARBITRARY row among equal-time
    * checkpoints while asofBackward breaks the tie deterministically by
    * payload order, so duplicate (user_id, ts) checkpoints in a future
    * events table would flake the hash compare. Keeping the max-ckpt_id
    * row (a window both engines state identically) removes the
    * ambiguity on both sides.
    */
  private[graft] def q46Checkpoints(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("rts"))
      .orderBy(col("ckpt_id").desc)
    ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts").as("rts"),
        col("event_id").as("ckpt_id"), col("value").as("ckpt_value"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Shared oracle for q46/q50 — both as-of implementations must
    * hash-match the same native DuckDB ASOF LEFT JOIN (over the same
    * tie-deduped checkpoint frame, see [[q46Checkpoints]]). */
  private[graft] val oracleSqlQ46: String =
    """WITH l AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS t FROM events),
      |r AS (
      |  SELECT user_id, rt, ckpt_id, ckpt_value FROM (
      |    SELECT user_id, epoch_ns(ts) AS rt, event_id AS ckpt_id,
      |           value AS ckpt_value,
      |           row_number() OVER (PARTITION BY user_id, epoch_ns(ts)
      |                              ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_id % 10 = 0) WHERE rn = 1)
      |SELECT l.event_id, r.ckpt_id, r.ckpt_value
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.rt""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The no-arg form returns the static twins
    * only; Verify calls the explicit overload with its (session, sf
    * dir) so the six candidate-generation queries additionally get
    * GENERATED key-CTE oracles ([[OracleGen]]) computed from the same
    * data the queries read. Without a context those entries are simply
    * absent — the driver then records the weaker rows-only check,
    * exactly the pre-generation behavior.
    */
  def oracleSql: Map[String, String] = oracleSql(None)

  def oracleSql(ctx: Option[(SparkSession, String)]): Map[String, String] =
    staticOracleSql ++ ctx.map { case (s, dir) => OracleGen.all(s, dir) }
      .getOrElse(Map.empty)

  private[graft] def staticOracleSql: Map[String, String] =
    graft.registry.CoreLogQueries.oracleSql ++
    graft.registry.TextQueries.oracleSql ++
    graft.registry.DedupQueries.oracleSql ++
    graft.registry.VectorQueries.oracleSql ++
    graft.registry.MultimodalQueries.oracleSql ++
    graft.registry.PipelineQueries.oracleSql ++
    graft.registry.GraphQueries.oracleSql ++
    graft.registry.SearchQueries.oracleSql ++
    graft.registry.SourceQueries.oracleSql

  /** DuckDB twin of [[graft.textops.TextAnalysis.sentences]] applied
    * to the SQL string expression `input`: the SAME regex pipeline —
    * placeholder strip, ellipsis/decimal/abbreviation protection
    * (shared [[graft.textops.TextAnalysis.sentenceAbbrevs]] list),
    * terminator-run split, trim+restore, empty drop. RE2 (DuckDB) and
    * Java regex (Spark) agree on every construct used (no lookaround,
    * ASCII `\\b`, explicit classes).
    */
  private[graft] def sentencesSql(input: String): String = {
    val abbrevs = graft.textops.TextAnalysis.sentenceAbbrevs.mkString("|")
    s"""list_filter(
       |      list_transform(
       |        string_split_regex(
       |          regexp_replace(
       |            regexp_replace(
       |              regexp_replace(
       |                regexp_replace(
       |                  regexp_replace(
       |                    regexp_replace($input, '[\\x01\\x02]', '', 'g'),
       |                    '\\.\\.\\.', chr(2), 'g'),
       |                  '([0-9])\\.([0-9])', '\\1' || chr(1) || '\\2', 'g'),
       |                '([0-9])\\.([0-9])', '\\1' || chr(1) || '\\2', 'g'),
       |              '\\b($abbrevs)\\.', '\\1' || chr(1), 'g'),
       |            '\\b([ei])\\.([ge])\\.',
       |            '\\1' || chr(1) || '\\2' || chr(1), 'g'),
       |          '[.!?]+'),
       |        x -> trim(replace(replace(x, chr(2), '...'), chr(1), '.'))),
       |      x -> length(x) > 0)""".stripMargin
  }

  /** q104's oracle: [[oracleSqlQ94]]'s recurrence with init and base
    * masked to the seed set.
    */
  private[graft] val oracleSqlQ104: String = {
    val base = graft.operators.LinkGraph.Scale * 15 / 100
    val iters = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT d0.doc_id AS id,
         |    (CASE WHEN d0.doc_id % 25 = 0 THEN $base ELSE 0 END)
         |      + COALESCE(s.c, 0) AS r
         |  FROM documents d0 LEFT JOIN (
         |    SELECT e.dst AS id,
         |           CAST(SUM((p.r * 85) // (100 * g.d)) AS BIGINT) AS c
         |    FROM p${k - 1} p JOIN e ON e.src = p.id JOIN g ON g.src = e.src
         |    GROUP BY e.dst) s ON s.id = d0.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT doc_id AS src,
       |         (doc_id * 7 + 1) % (SELECT count(*) FROM documents) AS dst
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 13 + 2) % (SELECT count(*) FROM documents)
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 0 FROM documents WHERE doc_id % 10 = 0),
       |g AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |p0 AS (SELECT doc_id AS id,
       |         CASE WHEN doc_id % 25 = 0
       |              THEN ${graft.operators.LinkGraph.Scale} ELSE 0 END AS r
       |       FROM documents),
       |""".stripMargin + iters + """
       |SELECT id AS doc_id, r AS trust_fp FROM p5""".stripMargin
  }

  /** q100's oracle: the q94 unrolled fixed-point recurrence keyed on
    * host STRINGS (the engine's md5 ids are an internal detail — graph
    * isomorphism means the ranks agree as long as the edge sets do).
    */
  private[graft] val oracleSqlQ100: String = {
    val base = graft.operators.LinkGraph.Scale * 15 / 100
    val iters = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT n.host AS id, $base + COALESCE(s.c, 0) AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS id,
         |           CAST(SUM((p.r * 85) // (100 * g.deg)) AS BIGINT) AS c
         |    FROM p${k - 1} p JOIN e ON e.src = p.id JOIN g ON g.src = e.src
         |    GROUP BY e.dst) s ON s.id = n.host)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'h' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
       |    'h' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR) || '.example' AS tgt
       |  FROM documents),
       |n AS (SELECT DISTINCT host FROM d),
       |e AS (SELECT DISTINCT host AS src, tgt AS dst FROM d
       |      UNION SELECT DISTINCT host, 'h0.example' FROM d),
       |g AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT host AS id, ${graft.operators.LinkGraph.Scale} AS r FROM n),
       |""".stripMargin + iters + """
       |SELECT d.doc_id, d.host, p.r AS host_rank_fp
       |FROM d JOIN p5 p ON p.id = d.host""".stripMargin
  }

  /** q94's oracle: the SAME integer PageRank recurrence as
    * [[graft.operators.LinkGraph.pageRank]], 5 iterations unrolled as
    * chained CTEs (DuckDB 1.0 recursive CTEs cannot aggregate over the
    * recursive table). DuckDB's 128-bit intermediates make the plain
    * `(r*85)//(100*d)` equal the engine's overflow-safe split form.
    */
  private[graft] val oracleSqlQ94: String = {
    val base = graft.operators.LinkGraph.Scale * 15 / 100
    val iters = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT d0.doc_id AS id, $base + COALESCE(s.c, 0) AS r
         |  FROM documents d0 LEFT JOIN (
         |    SELECT e.dst AS id,
         |           CAST(SUM((p.r * 85) // (100 * g.d)) AS BIGINT) AS c
         |    FROM p${k - 1} p JOIN e ON e.src = p.id JOIN g ON g.src = e.src
         |    GROUP BY e.dst) s ON s.id = d0.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT doc_id AS src,
       |         (doc_id * 7 + 1) % (SELECT count(*) FROM documents) AS dst
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 13 + 2) % (SELECT count(*) FROM documents)
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 0 FROM documents WHERE doc_id % 10 = 0),
       |g AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |p0 AS (SELECT doc_id AS id, ${graft.operators.LinkGraph.Scale} AS r
       |       FROM documents),
       |""".stripMargin + iters + """
       |SELECT id AS doc_id, r AS rank_fp FROM p5""".stripMargin
  }

  /** q137 fixture: a many-component link graph over doc ids — each
    * group of 4 consecutive ids is one weakly-connected component (a
    * 3-cycle plus a tail). The NEW snapshot differs in exactly two
    * group classes: g%10==3 gains a back-edge from the tail, g%10==7
    * loses the tail edge (leaving its tail node isolated) — so the
    * incremental ranker must re-run exactly those components and
    * carry every other rank forward untouched.
    */
  private[graft] def deltaGraphEdges(
      s: SparkSession, dir: String, isNew: Boolean): DataFrame = {
    val base = table(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("b"), expr("doc_id DIV 4").as("g"))
    val keepTail =
      if (isNew) col("g") % 10 =!= 7 else lit(true)
    val addBack =
      if (isNew) col("g") % 10 === 3 else lit(false)
    base.select(explode(array(
        struct(col("b").as("src"), (col("b") + 1).as("dst"), lit(true).as("keep")),
        struct((col("b") + 1).as("src"), (col("b") + 2).as("dst"), lit(true).as("keep")),
        struct((col("b") + 2).as("src"), col("b").as("dst"), lit(true).as("keep")),
        struct(col("b").as("src"), (col("b") + 3).as("dst"), keepTail.as("keep")),
        struct((col("b") + 3).as("src"), col("b").as("dst"), addBack.as("keep"))))
        .as("_e"))
      .filter(col("_e.keep"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
  }

  /** q137's oracle: FULL fixed-point PageRank on the NEW snapshot (the
    * q94 recurrence — the equality contract says the delta path must
    * match it exactly), plus the recomputed flag from the touched-
    * component rule — so the oracle pins BOTH exactness and laziness.
    */
  private[graft] val oracleSqlQ137: String = {
    val base = graft.operators.LinkGraph.Scale * 15 / 100
    val iters = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT d0.doc_id AS id, $base + COALESCE(s.c, 0) AS r
         |  FROM documents d0 LEFT JOIN (
         |    SELECT e.dst AS id,
         |           CAST(SUM((p.r * 85) // (100 * g.d)) AS BIGINT) AS c
         |    FROM p${k - 1} p JOIN e ON e.src = p.id JOIN g ON g.src = e.src
         |    GROUP BY e.dst) s ON s.id = d0.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH b4 AS (SELECT doc_id AS b, doc_id // 4 AS g FROM documents
       |            WHERE doc_id % 4 = 0),
       |e AS (
       |  SELECT b AS src, b + 1 AS dst FROM b4
       |  UNION ALL SELECT b + 1, b + 2 FROM b4
       |  UNION ALL SELECT b + 2, b FROM b4
       |  UNION ALL SELECT b, b + 3 FROM b4 WHERE g % 10 != 7
       |  UNION ALL SELECT b + 3, b FROM b4 WHERE g % 10 = 3),
       |g AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |p0 AS (SELECT doc_id AS id, ${graft.operators.LinkGraph.Scale} AS r
       |       FROM documents),
       |""".stripMargin + iters + """
       |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank,
       |  ((id // 4) % 10) IN (3, 7) AS recomputed
       |FROM p5""".stripMargin
  }

  private[graft] def annTwinOracleSql(family: String): String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings),
       |c AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM base),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM c WHERE vec_id < 20),
       |scored AS (
       |  SELECT qid, c.vec_id AS nid,
       |         list_dot_product(c.v, qv) / (c.n * qn) AS cos
       |  FROM c CROSS JOIN q WHERE c.vec_id != qid),
       |top1 AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS r
       |    FROM scored) WHERE r = 1)
       |SELECT '$family' AS family,
       |  count(*) AS n_truth,
       |  count(*) FILTER (WHERE nid = qid + 100000) AS n_found,
       |  CAST(floor(10000.0 * (count(*) FILTER (WHERE nid = qid + 100000)) / count(*))
       |       AS BIGINT) AS recall_x10000
       |FROM top1""".stripMargin
}
