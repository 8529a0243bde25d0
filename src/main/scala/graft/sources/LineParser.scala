package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.RegexpGroups.regexp_groups

/** S6 — multi-format access-log line parser.
  *
  * First-match dispatch over 8 ordered regex formats, reproducing the
  * reference's pattern ORDER and post-processing exactly
  * (reference parser.py:8-18 patterns, parser.py:127-163 dispatch).
  *
  * Pattern order is semantic: `apache` strictly subsumes
  * `apache_extended` and `nginx` (its lazy user-agent group swallows the
  * extended trailing field; its referrer/size alternations are supersets),
  * so those two are unreachable dead patterns and `extra` is never
  * populated in practice — we keep them IN ORDER to reproduce that
  * shadowing, not "fix" it (SURVEY §2.1 S6, FIXTURES §1).
  *
  * Each format is matched ONCE via [[graft.functions.RegexpGroups]]
  * (single-pass multi-group extraction, codegen-friendly), then its
  * groups are rearranged into the canonical parsed struct. Dispatch is a
  * `coalesce` over the per-format structs — whole-stage-codegen'd, no
  * UDFs, fully parallel per-line (narrow, no shuffle).
  */
object LineParser {

  /** (format name, java regex, capture-group field names in order).
    * Semantics (not code) from reference parser.py:8-18; Python named
    * groups rewritten as ordered plain groups.
    */
  val formats: Seq[(String, String, Seq[String])] = Seq(
    ("apache",
      """^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+|-) "(.*?|-)" "(.*?|-)"\s*$""",
      Seq("ip", "timestamp", "method", "request_uri", "status", "resp_size", "referrer", "user_agent")),
    ("no_method",
      """^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([^"]+)" (\d{3}) (\d+|-) "(.*?|-)" "(.*?|-)"$""",
      Seq("ip", "timestamp", "request_uri", "status", "resp_size", "referrer", "user_agent")),
    ("apache extended",
      """^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+) "(.*?|-)" "(.*?|-)" "(.*?|-)"$""",
      Seq("ip", "timestamp", "method", "request_uri", "status", "resp_size", "referrer", "user_agent", "extra")),
    ("clf",
      """^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+|-)$""",
      Seq("ip", "timestamp", "method", "request_uri", "status", "resp_size")),
    ("unknown",
      """^\S+ \S+ \S+ (\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+)$""",
      Seq("ip", "timestamp", "method", "request_uri", "status", "resp_size")),
    ("nginx",
      """^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+) "([^"]*)" "(.*?|-)"$""",
      Seq("ip", "timestamp", "method", "request_uri", "status", "resp_size", "referrer", "user_agent")),
    ("iis",
      """^(\d{4}-\d{2}-\d{2}\s\d{2}:\d{2}:\d{2})\s+\S+\s+([A-Z]+)\s+(\S+)\s+\S+\s+\d+\s+\S+\s+(\S+)\s+(\S+)\s+(\S+|-)\s+(\d{3})\s+\d+\s+\d+\s+(\d+)$""",
      Seq("timestamp", "method", "request_uri", "ip", "user_agent", "referrer", "status", "resp_size")),
    ("iis_custom_1",
      """^(\d{4}-\d{2}-\d{2}\s\d{2}:\d{2}:\d{2})\s+\S+\s+\S+\s+\S+\s+([A-Z]+)\s+(\S+)\s+\S+\s+\d+\s+\S+\s+(\S+)\s+(\S+)\s+(\S+)\s+(\d{3})\s+\d+\s+\d+\s+(\d+)$""",
      Seq("timestamp", "method", "request_uri", "ip", "user_agent", "referrer", "status", "time_taken"))
  )

  /** Pre-parse normalization S3/S5 (reference parser.py:111-117,134):
    * strip a leading `filename:` grep prefix when the remainder is
    * non-empty. The trailing-junk regex at parser.py:134 is an effective
    * no-op on stripped lines (`$.*` can only append an empty match) and is
    * intentionally not ported (SURVEY §7.4.4); a test pins that.
    */
  def stripGrepPrefix(line: Column): Column = {
    val stripped = regexp_replace(line, "^[\\w./-]+:\\s*", "")
    when(length(stripped) > 0, stripped).otherwise(line)
  }

  /** S4 — comment/blank skip predicate (reference parser.py:130-132). */
  def isSkippable(trimmedLine: Column): Column =
    length(trimmedLine) === 0 || trimmedLine.startsWith("#")

  /** Full parse pipeline over a DataFrame of raw lines.
    *
    * Input: columns `value` (raw line) and `source` (file basename).
    * Output: `ParsedLogs(parsed, errors)` — parsed rows in canonical
    * column layout; unparseable lines (S7 side channel,
    * reference parser.py:121-124) with their source. Dispatch + fixups
    * live in the single [[ParseLogLine]] expression (see its scaladoc
    * for why that beats a struct-`coalesce` here).
    *
    * `parsed` and `errors` both read the one parse result: below the
    * `spark.graft.widen.maxBytes` guard it is materialized
    * ([[graft.operators.Widen.materialize]]), so this call runs one
    * job that scans and parses the input, and every later action on
    * either frame reads that result instead of the text. Above the
    * guard both stay lazy and each action re-parses.
    */
  def parse(lines: DataFrame): ParsedLogs = {
    val trimmed = lines
      .withColumn("_line", trim(stripGrepPrefix(col("value"))))
      .filter(!isSkippable(col("_line")))
    // only what the two branches read: the raw `value` would otherwise
    // ride into the materialized result (pruning stops at a checkpoint)
    val withStruct = graft.operators.Widen.materialize(trimmed
      .select(col("source"), col("_line"), ParseLogLine.parse_log_line(col("_line")).as("_p")))
    val parsed = withStruct
      .filter(col("_p").isNotNull)
      .select(col("source"), col("_p.*"))
    val errors = withStruct
      .filter(col("_p").isNull)
      .select(col("source"), col("_line").as("line"))
    ParsedLogs(parsed, errors)
  }
}

/** Parse result: canonical rows + the unparseable-line side channel. */
final case class ParsedLogs(parsed: DataFrame, errors: DataFrame)
