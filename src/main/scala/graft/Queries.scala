package graft

import graft.cdc.Temporal
import graft.core.Cdc
import graft.mask.{MaskConfig, Masker}
import graft.merge.CdcMerge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's driver-facing query catalog: one entry per implemented
  * operator from SURVEY.md §2, each with a DuckDB oracle over the same
  * parquet tables.
  *
  * Cross-engine determinism rules used throughout:
  *  - sums over floating columns go through exact DECIMAL accumulation and
  *    are cast to double at the end (sum order is then irrelevant);
  *  - ratios are single IEEE double divisions of exact integers (identical
  *    bit patterns in any engine);
  *  - counts/lengths are BIGINT on both sides;
  *  - hash masks use sha256 here because DuckDB lacks sha1 (the library
  *    default stays sha1 for reference parity — see MaskerSpec goldens).
  */
object Queries {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.read(s, dir, t)

  // ---- shared CDC stage derived from the events table -------------------
  // events → Debezium-shaped change stream: event_id is the Kafka offset,
  // signup/error map to CREATE/DELETE, the rest are UPDATEs (FIXTURES.md §9).
  private def cdcStage(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "events").select(
      col("event_id").cast(StringType).as(Cdc.OffsetColumn),
      when(col("event_type") === "signup", Cdc.OpCreate)
        .when(col("event_type") === "error", Cdc.OpDelete)
        .otherwise(Cdc.OpUpdate).as(Cdc.OperationColumn),
      col("user_id"), col("value"))

  private val cdcStageSql =
    """stage AS (
      |  SELECT CAST(event_id AS VARCHAR) AS kafkaoffset,
      |         CASE event_type WHEN 'signup' THEN 'CREATE'
      |                         WHEN 'error' THEN 'DELETE'
      |                         ELSE 'UPDATE' END AS debeziumop,
      |         user_id, value
      |  FROM events)""".stripMargin

  private def cdcTarget(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_acctbal").as("value"))

  private val cdcTargetSql =
    "target AS (SELECT c_custkey AS user_id, c_acctbal AS value FROM customer)"

  // ---- mask config used by the mask queries -----------------------------
  private val maskSalt = "graftsalt"
  private val queryMaskConfig = MaskConfig(
    nonPiiKeys = Map("customer" -> Seq("c_custkey")),
    conditionalNonPiiKeys = Map("customer" -> Map("c_name" -> Seq("%5"))),
    dependentNonPiiKeys =
      Map("customer" -> Map("c_mktsegment" -> Map("c_nationkey" -> Seq("7", "11")))),
    lengthKeys = Map("customer" -> Seq("c_name")),
    mobileKeys = Map("customer" -> Seq("c_name")),
    regexPatternBooleanKeys =
      Map("customer" -> Map("c_mktsegment" -> Map("has_build" -> "build"))))

  /** Customer stringified the way the CDC transform stage would emit it. */
  private def customerAsStrings(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer").select(
      col("c_custkey").cast(StringType).as("c_custkey"),
      col("c_name").as("c_name"),
      col("c_nationkey").cast(StringType).as("c_nationkey"),
      format_string("%.2f", col("c_acctbal")).as("c_acctbal"),
      col("c_mktsegment").as("c_mktsegment"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q1_pricing_summary" -> ((s, dir) => {
      // Exact accumulation via scaled integers (cents), not DECIMAL: a
      // decimal(18,2) sum has precision 28, which leaves Spark's compact
      // Long decimal representation and aggregates boxed BigDecimals.
      // round(x*100) as a long is equally order-independent and exact
      // (inputs carry 2 decimals), sums in a primitive, and any SQL
      // engine reproduces it bit-for-bit.
      val li = rd(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      val cents = (c: String) => round(col(c) * 100).cast(LongType)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(cents("l_quantity")).cast(DoubleType) / 100.0).as("sum_qty"),
          (sum(cents("l_extendedprice")).cast(DoubleType) / 100.0)
            .as("sum_base_price"),
          // price·(1−disc): discount has 2 decimals, so (1−disc)·100 is an
          // integer — cent·percent units, /1e4 at the end. Headroom: ~2^58
          // of slack before a 6e8-row-group sum nears Long range (and ANSI
          // mode fails loudly, never silently, if it ever did).
          (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .cast(DoubleType) / 10000.0).as("sum_disc_price"),
          (sum(cents("l_quantity")).cast(DoubleType) / 100.0 / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_revenue_by_segment" -> ((s, dir) => {
      val c = rd(s, dir, "customer")
      val o = rd(s, dir, "orders")
      val li = rd(s, dir, "lineitem")
      // scaled-integer revenue (see q1): exact, order-free, primitive sums
      val cents = (col_ : Column) => round(col_ * 100).cast(LongType)
      // dims are small relative to lineitem: broadcast them so the fact
      // table never shuffles for the join.
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast(DoubleType) / 10000.0).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q6_forecast_revenue" -> ((s, dir) =>
      // filter-dominated scan: all three predicates reach the parquet
      // reader as PushedFilters (asserted in PushdownSpec) — at 100 TB
      // row-group statistics skip most of the table before any CPU.
      rd(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 25)
        .agg((sum(round(col("l_extendedprice") * 100).cast(LongType) *
            round(col("l_discount") * 100).cast(LongType))
          .cast(DoubleType) / 10000.0).as("revenue"),
          count(lit(1)).as("n_rows"))),

    "q_r1_dedupe" -> ((s, dir) =>
      CdcMerge.dedupe(cdcStage(s, dir), Seq("user_id"))),

    "q_r2_delete_common" -> ((s, dir) =>
      CdcMerge.deleteCommon(
        cdcTarget(s, dir),
        cdcStage(s, dir).filter(col("user_id") % 3 === 0),
        Seq("user_id"))),

    "q_r3_op_filter" -> ((s, dir) =>
      CdcMerge.dropDeleteOps(cdcStage(s, dir))
        .select(Cdc.OffsetColumn, Cdc.OperationColumn, "user_id")),

    "q_r4_merge_scd1" -> ((s, dir) =>
      CdcMerge.merge(cdcTarget(s, dir), cdcStage(s, dir), Seq("user_id"))),

    "q_r5_skipmerge_gate" -> ((s, dir) => {
      val counts = cdcStage(s, dir).agg(
        sum(when(col(Cdc.OperationColumn) === Cdc.OpCreate, 1L).otherwise(0L))
          .as("create_events"),
        sum(when(col(Cdc.OperationColumn) === Cdc.OpUpdate, 1L).otherwise(0L))
          .as("update_events"),
        sum(when(col(Cdc.OperationColumn) === Cdc.OpDelete, 1L).otherwise(0L))
          .as("delete_events"))
      counts.withColumn("skip_merge",
        col("update_events") === 0 && col("delete_events") === 0 &&
          col("create_events") > 0)
    }),

    "q_r6_event_counts" -> ((s, dir) =>
      CdcMerge.eventCounts(cdcStage(s, dir))),

    "q_r7_distinct" -> ((s, dir) =>
      rd(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    "q_r8_usage_agg" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
      val li = rd(s, dir, "lineitem")
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          count(col("l_orderkey")).as("n_items"))
        .orderBy(col("n_parts").desc, col("o_orderpriority"))
    }),

    "q_r10_topk" -> ((s, dir) =>
      rd(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
        .select("o_orderkey", "o_totalprice")),

    "q_w_time_window" -> ((s, dir) =>
      // event-time tumbling window aggregation (batch form of the
      // streaming windowed count - same operator).
      rd(s, dir, "events")
        .withColumn("ts_ts", timestamp_micros(col("ts")))
        .groupBy(window(col("ts_ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("n"))
        .orderBy("window_start")),

    "q_w_rank_topn" -> ((s, dir) => {
      // rank window + top-n-per-group: the other common window shape
      // (Spark plans it as WindowGroupLimit — pre-shuffle partial top-n).
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      rd(s, dir, "orders")
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), col("rk").cast(LongType).as("rk"))
    }),

    "q_w_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      rd(s, dir, "events")
        .withColumn("running_value", sum(col("value")).over(w))
        .select("event_id", "user_id", "running_value")
    }),

    "q_p_envelope_cdc" -> ((s, dir) => {
      // Debezium-shaped envelopes synthesized from events, then the real
      // transform stage: op classification, row selection, stringify,
      // temporal conversion, metadata annotation.
      import graft.core.{ColSpec, SourceType, TableSpec}
      val payload = struct(
        col("user_id"),
        col("value").cast(DecimalType(18, 2)).as("value"),
        (col("event_id") % 30000 - 13023).cast(IntegerType).as("dob"))
      val env = rd(s, dir, "events").select(
        col("event_id").as("offset"),
        when(col("event_type") === "signup", lit(null)).otherwise(payload)
          .as("before"),
        when(col("event_type") === "error", lit(null)).otherwise(payload)
          .as("after"))
      val spec = TableSpec("graft", "events_cdc", Seq(
        ColSpec("user_id", "long", SourceType("BIGINT")),
        ColSpec("value", "string", SourceType("DECIMAL", "18", "2")),
        ColSpec("dob", "int32", SourceType("DATE"))))
      graft.cdc.DebeziumTransform(env, spec)
    }),

    "q_m1_hash_mask" -> ((s, dir) => {
      val m = new Masker(MaskConfig(), maskSalt, Masker.Sha256)
      rd(s, dir, "customer")
        .select(col("c_custkey").cast(StringType).as("c_custkey"),
          col("c_name"))
        .select(col("c_custkey"), m.maskValue(col("c_name")).as("c_name"))
    }),

    "q_m_mask_full" -> ((s, dir) => {
      val m = new Masker(queryMaskConfig, maskSalt, Masker.Sha256)
      m(customerAsStrings(s, dir), "customer")
        .withColumn("c_name_length", col("c_name_length").cast(LongType))
    }),

    "q_p4_date" -> ((s, dir) =>
      rd(s, dir, "events").select(col("event_id"),
        Temporal.debeziumDate(col("event_id") % 30000 - 13023).as("date_str"))),

    "q_p5_timestamp" -> ((s, dir) =>
      rd(s, dir, "events").select(col("event_id"),
        Temporal.debeziumTimestamp(
          date_format(timestamp_micros(col("ts")),
            "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("ts_str"))),

    "q_p6_datetime" -> ((s, dir) =>
      rd(s, dir, "events").select(col("event_id"),
        Temporal.debeziumDatetimeMillis(
          col("event_id") * 997 + 588175262000L, 3).as("dt_ms"),
        Temporal.debeziumDatetimeMicros(
          col("event_id") * 1000003L + 588175262123456L, 6).as("dt_us"))),

    "q_p7_time" -> ((s, dir) =>
      rd(s, dir, "events").select(col("event_id"),
        Temporal.debeziumTime((col("event_id") * 7919L) % 86400000000L)
          .as("time_str"))),

    "q_x_zorder" -> ((s, dir) =>
      // z-curve kernel over (user_id, event-time µs) low 10 bits — the
      // write-side clustering key for multi-column file skipping
      // (LayoutSpec measures the locality win; this checks the curve)
      rd(s, dir, "events").select(col("event_id"),
        graft.warehouse.Layout.zValue(
          Seq(col("user_id"), col("ts")), bits = 10).as("z"))),

    "q_x_copy_clamp" -> ((s, dir) => {
      // COPY TRUNCATECOLUMNS parity (redshift.go:875-887): varchar(n) is
      // n BYTES, truncation keeps whole characters. Spaces swapped for a
      // 2-byte char so the 64-byte clamp usually lands mid-character and
      // must back off to a char boundary (clamped_bytes 63 on those
      // rows). ACCEPTINVCHARS composes in the same projection — a no-op
      // on the valid fixture; the invalid-byte policy is golden-tested
      // byte-for-byte in CopyOptionsSpec.
      import graft.warehouse.CopyOptions
      val wide = translate(coalesce(col("text"), lit("")), " ", "é")
      rd(s, dir, "documents")
        .select(col("doc_id"),
          CopyOptions.truncateColumns(CopyOptions.acceptInvChars(wide), 64)
            .as("clamped"))
        .select(col("doc_id"), col("clamped"),
          octet_length(col("clamped")).cast(LongType).as("clamped_bytes"),
          length(col("clamped")).cast(LongType).as("clamped_chars"))
    }),

    "q5_local_supplier" -> ((s, dir) => {
      // TPC-H Q5 shape: six-table star-ish join, revenue from orders
      // whose customer and supplier sit in the SAME nation of one
      // region. Plan design for 100 TB: lineitem⋈orders is the one big
      // shuffle (both fact-scale, keyed on orderkey); every dimension —
      // region-filtered nation, customer, supplier — broadcasts, so the
      // fact side shuffles exactly once. The region filter prunes
      // nations BEFORE the customer/supplier joins, shrinking both
      // build sides (Catalyst pushes it through the join chain).
      val cents = (c: Column) => round(c * 100).cast(LongType)
      val nations = rd(s, dir, "nation")
        .join(broadcast(rd(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = rd(s, dir, "customer")
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = rd(s, dir, "supplier")
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"))
      val o = rd(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      rd(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount"))))
          .cast(DoubleType) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    })
  )

  /** DuckDB inlines a CTE at every reference unless told otherwise, so a
    * CTE referenced twice re-executes its whole upstream chain — cost
    * doubles per level of a deep chain (a two-pass k-means replay oracle
    * once took 145 s / 16 GiB in DuckDB at sf0.01 that way). Forcing AS
    * MATERIALIZED on every CTE leaves results byte-identical; applied
    * uniformly at assembly so any deep-chain oracle is safe by default.
    *
    * Implemented as a tiny CTE-list scanner, not a regex: the rewrite
    * follows the GRAMMAR (after `WITH [RECURSIVE]`, materialize each
    * `name [(cols)] AS (body)` element, comma-chained, recursing into
    * bodies for nested WITH) and copies everything else verbatim — so a
    * comma-chained named-window clause (`WINDOW w1 AS (…), w2 AS (…)`)
    * or a string literal containing `, x AS (` is untouched, the two
    * corruptions a prefix-token regex cannot rule out. Single-quoted
    * strings and double-quoted identifiers are opaque to the scanner;
    * an already-annotated `AS [NOT] MATERIALIZED (` is left as written.
    * Anything unparseable is copied unchanged (the rewrite only ever
    * INSERTS `MATERIALIZED ` before a confirmed CTE body paren). */
  private[graft] def materializeCtes(sql: String): String = {
    val n = sql.length
    val out = new StringBuilder(n + 64)
    var i = 0
    def copyDelimited(quote: Char): Unit = { // 'string' / "ident", '' escapes
      out.append(sql(i)); i += 1
      var done = false
      while (!done && i < n) {
        val c = sql(i); out.append(c); i += 1
        if (c == quote) {
          if (i < n && sql(i) == quote) { out.append(quote); i += 1 }
          else done = true
        }
      }
    }
    def isIdentStart(c: Char) = c.isLetter || c == '_'
    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'
    // `-- …` line comments are opaque (an apostrophe in a comment must
    // not open a string); returns true if one was copied
    def copyLineComment(): Boolean =
      (sql(i) == '-' && i + 1 < n && sql(i + 1) == '-') && {
        while (i < n && sql(i) != '\n') { out.append(sql(i)); i += 1 }
        true
      }
    def copyIdent(): String = { // bare identifier at i; returns its text
      val start = i
      while (i < n && isIdentChar(sql(i))) i += 1
      val id = sql.substring(start, i)
      out.append(id); id
    }
    def copyWs(): Unit = {
      var go = true
      while (go && i < n) {
        if (sql(i).isWhitespace) { out.append(sql(i)); i += 1 }
        else if (sql(i) == '-' && copyLineComment()) ()
        else go = false
      }
    }
    // balanced-paren copy with full dispatch (nested WITH recurses)
    def copyParens(): Unit = {
      out.append('('); i += 1
      var depth = 1
      while (depth > 0 && i < n) sql(i) match {
        case '\'' => copyDelimited('\'')
        case '"' => copyDelimited('"')
        case '-' if copyLineComment() =>
        case '(' => out.append('('); i += 1; depth += 1
        case ')' => out.append(')'); i += 1; depth -= 1
        case c if isIdentStart(c) =>
          if (copyIdent().equalsIgnoreCase("WITH")) cteList()
        case c => out.append(c); i += 1
      }
    }
    // at the point just after a WITH keyword was copied
    def cteList(): Unit = {
      var first = true
      var more = true
      while (more) {
        more = false
        copyWs()
        if (i < n && (isIdentStart(sql(i)) || sql(i) == '"')) {
          if (sql(i) == '"') copyDelimited('"')
          else if (copyIdent().equalsIgnoreCase("RECURSIVE") && first) {
            copyWs()
            if (i < n && sql(i) == '"') copyDelimited('"')
            else if (i < n && isIdentStart(sql(i))) { copyIdent(); () }
          }
          first = false
          copyWs()
          if (i < n && sql(i) == '(') { copyParens(); copyWs() } // (cols)
          if (i + 1 < n && sql.substring(i, i + 2).equalsIgnoreCase("AS") &&
              (i + 2 == n || !isIdentChar(sql(i + 2)))) {
            out.append(sql.substring(i, i + 2)); i += 2
            copyWs()
            if (i < n && sql(i) == '(') {
              out.append("MATERIALIZED ")
              copyParens()
              copyWs()
              if (i < n && sql(i) == ',') { out.append(','); i += 1; more = true }
            } else if (i < n && isIdentStart(sql(i))) {
              // AS [NOT] MATERIALIZED ( — already annotated, keep as-is
              val kw = copyIdent()
              copyWs()
              if (kw.equalsIgnoreCase("NOT") && i < n && isIdentStart(sql(i))) {
                copyIdent(); copyWs()
              }
              if (i < n && sql(i) == '(') {
                copyParens()
                copyWs()
                if (i < n && sql(i) == ',') { out.append(','); i += 1; more = true }
              }
            }
          }
        }
      }
    }
    while (i < n) sql(i) match {
      case '\'' => copyDelimited('\'')
      case '"' => copyDelimited('"')
      case '-' if copyLineComment() =>
      case c if isIdentStart(c) =>
        if (copyIdent().equalsIgnoreCase("WITH")) cteList()
      case c => out.append(c); i += 1
    }
    out.toString
  }

  val oracles: Map[String, String] = rawOracles.view.mapValues(materializeCtes).toMap

  private[graft] def rawOracles: Map[String, String] = Map(
    "q_x_zorder" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(10), j ->
        |    ((((user_id & 1023) >> j) & 1) << (2*j)) +
        |    (((((epoch_ns(ts) // 1000) & 1023) >> j) & 1) << (2*j + 1))
        |  )) AS BIGINT) AS z
        |FROM events""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_revenue_by_segment" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.07 AND l_quantity < 25""".stripMargin,

    "q_r1_dedupe" ->
      s"""WITH $cdcStageSql
         |SELECT kafkaoffset, debeziumop, user_id, value FROM stage
         |QUALIFY row_number() OVER (
         |  PARTITION BY user_id
         |  ORDER BY CAST(kafkaoffset AS BIGINT) DESC) = 1""".stripMargin,

    "q_r2_delete_common" ->
      s"""WITH $cdcStageSql, $cdcTargetSql
         |SELECT user_id, value FROM target
         |WHERE user_id NOT IN (SELECT user_id FROM stage WHERE user_id % 3 = 0)""".stripMargin,

    "q_r3_op_filter" ->
      s"""WITH $cdcStageSql
         |SELECT kafkaoffset, debeziumop, user_id FROM stage
         |WHERE debeziumop <> 'DELETE'""".stripMargin,

    "q_r4_merge_scd1" ->
      s"""WITH $cdcStageSql, $cdcTargetSql,
         |dedup AS (
         |  SELECT * FROM stage
         |  QUALIFY row_number() OVER (
         |    PARTITION BY user_id
         |    ORDER BY CAST(kafkaoffset AS BIGINT) DESC) = 1)
         |SELECT user_id, value FROM target
         |WHERE user_id NOT IN (SELECT user_id FROM dedup)
         |UNION ALL
         |SELECT DISTINCT user_id, value FROM dedup WHERE debeziumop <> 'DELETE'""".stripMargin,

    "q_r5_skipmerge_gate" ->
      s"""WITH $cdcStageSql
         |SELECT
         |  CAST(sum(CASE WHEN debeziumop = 'CREATE' THEN 1 ELSE 0 END) AS BIGINT) AS create_events,
         |  CAST(sum(CASE WHEN debeziumop = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT) AS update_events,
         |  CAST(sum(CASE WHEN debeziumop = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS delete_events,
         |  (sum(CASE WHEN debeziumop = 'UPDATE' THEN 1 ELSE 0 END) = 0
         |   AND sum(CASE WHEN debeziumop = 'DELETE' THEN 1 ELSE 0 END) = 0
         |   AND sum(CASE WHEN debeziumop = 'CREATE' THEN 1 ELSE 0 END) > 0) AS skip_merge
         |FROM stage""".stripMargin,

    "q_r6_event_counts" ->
      s"""WITH $cdcStageSql
         |SELECT debeziumop AS op, count(*) AS count FROM stage GROUP BY 1""".stripMargin,

    "q_r7_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_r8_usage_agg" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(l_orderkey) AS n_items
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY n_parts DESC, o_orderpriority""".stripMargin,

    "q_r10_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "q_w_time_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_w_rank_topn" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  rank() OVER (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |FROM orders
        |QUALIFY rk <= 3""".stripMargin,

    "q_w_running_sum" ->
      """SELECT event_id, user_id,
        |  sum(value) OVER (PARTITION BY user_id ORDER BY event_id) AS running_value
        |FROM events""".stripMargin,

    "q_p_envelope_cdc" ->
      """SELECT CAST(event_id AS VARCHAR) AS kafkaoffset,
        |  CASE event_type WHEN 'signup' THEN 'CREATE'
        |                  WHEN 'error' THEN 'DELETE'
        |                  ELSE 'UPDATE' END AS debeziumop,
        |  CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value,
        |  strftime(DATE '1970-01-01' + to_days(CAST(event_id % 30000 - 13023 AS INT)),
        |           '%Y-%m-%d') AS dob
        |FROM events""".stripMargin,

    "q_m1_hash_mask" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey,
        |  CASE WHEN c_name IS NULL OR trim(c_name) = '' THEN NULL
        |       ELSE sha256(c_name || 'graftsalt') END AS c_name
        |FROM customer""".stripMargin,

    "q_m_mask_full" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey,
        |  CASE WHEN c_name LIKE '%5' THEN c_name
        |       ELSE sha256(c_name || 'graftsalt') END AS c_name,
        |  sha256(CAST(c_nationkey AS VARCHAR) || 'graftsalt') AS c_nationkey,
        |  sha256(printf('%.2f', c_acctbal) || 'graftsalt') AS c_acctbal,
        |  CASE WHEN CAST(c_nationkey AS VARCHAR) IN ('7', '11') THEN c_mktsegment
        |       ELSE sha256(c_mktsegment || 'graftsalt') END AS c_mktsegment,
        |  strlen(c_name) AS c_name_length,
        |  substr(c_name, 1, 5) AS c_name_init5,
        |  CASE WHEN regexp_matches(c_mktsegment, '(?i)build') THEN 'true'
        |       ELSE 'false' END AS c_mktsegment_has_build
        |FROM customer""".stripMargin,

    "q_p4_date" ->
      """SELECT event_id,
        |  strftime(DATE '1970-01-01' + to_days(CAST(event_id % 30000 - 13023 AS INT)),
        |           '%Y-%m-%d') AS date_str
        |FROM events""".stripMargin,

    "q_p5_timestamp" ->
      """SELECT event_id,
        |  replace(replace(strftime(ts, '%Y-%m-%dT%H:%M:%SZ'), 'T', ' '), 'Z', '') AS ts_str
        |FROM events""".stripMargin,

    "q_p6_datetime" ->
      """SELECT event_id,
        |  strftime(epoch_ms(event_id * 997 + 588175262000), '%Y-%m-%d %H:%M:%S')
        |    || '.' || substr(lpad(CAST((event_id * 997 + 588175262000) % 1000 * 1000000 AS VARCHAR), 9, '0'), 1, 3) AS dt_ms,
        |  strftime(make_timestamp(event_id * 1000003 + 588175262123456), '%Y-%m-%d %H:%M:%S')
        |    || '.' || substr(lpad(CAST((event_id * 1000003 + 588175262123456) % 1000000 * 1000 AS VARCHAR), 9, '0'), 1, 6) AS dt_us
        |FROM events""".stripMargin,

    "q_p7_time" ->
      """SELECT event_id,
        |  strftime(make_timestamp((event_id * 7919) % 86400000000), '%H:%M:%S') AS time_str
        |FROM events""".stripMargin,

    // byte-width clamp on whole-char boundaries: keep = the largest char
    // prefix whose byte length (strlen) fits the declared 64-byte width
    "q_x_copy_clamp" ->
      """WITH src AS (
        |  SELECT doc_id, replace(coalesce(text, ''), ' ', 'é') AS s
        |  FROM documents),
        |cut AS (
        |  SELECT doc_id, s,
        |    list_max(list_filter(range(0, length(s) + 1),
        |      L -> strlen(substring(s, 1, CAST(L AS INT))) <= 64)) AS keep
        |  FROM src)
        |SELECT doc_id, substring(s, 1, CAST(keep AS INT)) AS clamped,
        |  CAST(strlen(substring(s, 1, CAST(keep AS INT))) AS BIGINT) AS clamped_bytes,
        |  CAST(length(substring(s, 1, CAST(keep AS INT))) AS BIGINT) AS clamped_chars
        |FROM cut""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin
  )
}
