package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NASA Common-Log-Format parsing (reference T4:
  * log_mining_analysis.py:24-28,114-115) — one `select`, all regex/split
  * work codegen'd, no UDFs. The reference stacks five withColumns; Catalyst
  * collapses them anyway, but we emit a single Project up front.
  */
object LogParser {

  /** value: "host - - [DD/Mon/YYYY:HH:MM:SS -0400] \"METHOD /path PROTO\" code bytes"
    * → host, timestamp, request, HTTP_reply_code, bytes_in_reply, day, hour.
    *
    * Same Java regex engine and patterns as the reference (log:24-26), so
    * extraction semantics are identical; day/hour (log:114-115) are
    * extracted here once instead of re-parsing downstream.
    *
    * Numeric fields use try_cast: real NASA CLF data carries '-' for
    * bytes_in_reply and malformed lines regexp-extract to '' — under
    * Spark 4's default ANSI mode a plain cast would throw mid-job, where
    * the reference's non-ANSI cast yields null. try_cast restores the
    * null-on-malformed semantics without disabling ANSI.
    */
  def parseNasaLog(raw: DataFrame): DataFrame = {
    val ts = regexp_extract(col("value"), """.* - - \[(.*)\].*""", 1)
    raw.select(
      regexp_extract(col("value"), """^(.*) - -.*""", 1).as("host"),
      ts.as("timestamp"),
      regexp_extract(col("value"), """.*\"(.*)\".*""", 1).as("request"),
      element_at(split(col("value"), " "), -2).try_cast("int").as("HTTP_reply_code"),
      element_at(split(col("value"), " "), -1).try_cast("int").as("bytes_in_reply"),
      regexp_extract(ts, """^(\d{2})""", 1).try_cast("int").as("day"),
      regexp_extract(ts, """^\d{2}/\w{3}/\d{4}:(\d{2})""", 1).try_cast("int").as("hour"))
  }

  /** All-suffixes top-k in ONE pass — the scalable replacement for the
    * reference's three separately scanned frames (quirk noted in SURVEY
    * §2.5): derive the suffix column, then window-rank per suffix.
    */
  def topHostsAllSuffixes(parsed: DataFrame, suffixes: Seq[String],
                          k: Int): DataFrame = {
    val suffixCol = element_at(split(col("host"), "\\."), -1)
    val counts = parsed
      .withColumn("country", suffixCol)
      .filter(col("country").isin(suffixes.map(_.stripPrefix(".")): _*))
      .groupBy("country", "host").agg(count("host").as("count"))
    graft.operators.Relational.topKPerGroup(
      counts, Seq("country"), col("count"), k, Seq(col("host")))
  }

  /** Day×hour traffic heatmap aggregate (log:113-118) — emitted as a table,
    * chart-ready; never toPandas'd.
    */
  def dayHourHeatmap(parsed: DataFrame): DataFrame =
    parsed.groupBy("day", "hour").agg(count(lit(1)).as("cnt"))
      .orderBy("day", "hour")

  /** Day×hour heatmap for the single most frequent host — reference parity:
    * log_mining_analysis.py:112-118 filters to the top host before the
    * heatmap. The top host is a 1-row broadcast semi-join (ties break to
    * the lexicographically smallest host), never a collected value.
    */
  def dayHourHeatmapTopHost(parsed: DataFrame): DataFrame = {
    val top = parsed.groupBy("host").agg(count("host").as("count"))
      .orderBy(desc("count"), asc("host")).limit(1)
    dayHourHeatmap(
      parsed.join(broadcast(top.select("host")), Seq("host"), "left_semi"))
  }

  /** Fraction of traffic captured by the top-k hosts, computed correctly —
    * the reference's pie-chart math has a precedence bug (quirk Q2,
    * log:75,107-108: `total - top/total` instead of `(total-top)/total`).
    */
  def restShare(parsed: DataFrame, k: Int): DataFrame = {
    val top = parsed.groupBy("host").agg(count("host").as("count"))
      .orderBy(desc("count"), asc("host")).limit(k)
    val agg = parsed.agg(count(lit(1)).as("total")).crossJoin(
      top.agg(sum("count").as("top_total")))
    agg.select(
      col("total"), col("top_total"),
      ((col("total") - col("top_total")).cast("double") / col("total"))
        .as("rest_share"))
  }
}
