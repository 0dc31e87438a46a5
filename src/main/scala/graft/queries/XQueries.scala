package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Tables}
import graft.etl.Pipelines.cleanSales
import graft.ext.{HashCoeffs, TextAnalysis}
import graft.ext.Corpus.shardShuffle
import graft.ext.DocFixtures.docs
import graft.queries.Common.{scd2History, tokensSql}

/** x*: data-engineering operators — pivot/unpivot, ordered listagg,
  * z-order, feature hashing, shard shuffle, SCD2 history, CDC apply,
  * k-anonymity, GDPR erasure, pseudonymized joins, DP counts and table
  * checksums.
  */
object XQueries {

  /** Shared wide frame for x1 (pivot) and x2 (unpivot roundtrip). */
  private def pivotWide(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val cust = graft.etl.Pipelines.cleanCustomers(s, dir)
      .select(col("customer_id"), col("region"))
    cleanSales(s, dir)
      .join(broadcast(cust), Seq("customer_id"), "left")
      .withColumn("region", coalesce(col("region"), lit("Unknown")))
      .groupBy("category")
      .pivot("region",
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST", "Unknown"))
      .agg(sum("total_price").cast("double"))
      .toDF("category", "africa", "america", "asia", "europe",
        "middle_east", "unknown")
  }

  private def regionCase(r: String) =
    s"CAST(SUM(CASE WHEN region = '$r' THEN total_price END) AS DOUBLE)"

  /** x13's two-sided-geometric (discrete Laplace) CDF thresholds for
    * ε = 1: T_k = floor(P(K ≤ k)·2⁶⁰) with α = e⁻¹, k = −20..19 —
    * P(K=0) = (1−α)/(1+α), P(K=±j) = P(K=0)·α^j, tails past ±20
    * (mass ~2·10⁻⁹) fold into the endpoints. The double-evaluated
    * floors, pinned verbatim for query + oracle + spec (the
    * PoissonCdf60 device): a 60-bit uniform u maps to
    * noise = #{k : u ≥ T_k} − 20 ∈ [−20, 20]. */
  val DpGeomCdf60: Seq[Long] = Seq(
    1737249836L, 4722334662L, 12836636500L, 34893595737L,
    94850627221L, 257830736394L, 700856605558L, 1905125775245L,
    5178668775777L, 14077081228805L, 38265474102003L, 104016342908847L,
    282745734791883L, 768582592959078L, 2089224096110597L,
    5679099896036210L, 15437394049398882L, 41963187723242784L,
    114067770652306528L, 310068348176998784L, 842853156429848192L,
    1038853733954540416L, 1110958316883604224L, 1137484110557448064L,
    1147242404710810752L, 1150832280510736384L, 1152152922013887872L,
    1152638758872055040L, 1152817488263938176L, 1152883239132744960L,
    1152907427525618176L, 1152916325938071168L, 1152919599481071744L,
    1152920803750241408L, 1152921246776110592L, 1152921409756219776L,
    1152921469713251200L, 1152921491770210432L, 1152921499884512256L,
    1152921502869597184L)

  /** x6's feature-hashing seed (own stream: buckets must not correlate
    * with the c4 gate or the c11 sample ranks).
    */
  private val FeatSeed = 77L

  val all: Seq[Query] = Seq(
    // — pivot (fixed value list → deterministic schema; the dynamic-pivot
    //   two-pass variant belongs at the API layer, never at 100 TB) —
    Query("x1_pivot", ((s, dir) => pivotWide(s, dir).orderBy("category")), Some(Oracle.sqlWith(
      """joined AS (
        |  SELECT s.category, s.total_price,
        |         COALESCE(c.region, 'Unknown') AS region
        |  FROM clean_sales s
        |  LEFT JOIN clean_customers c ON s.customer_id = c.customer_id)""".stripMargin,
      s"""SELECT category,
         |       ${regionCase("AFRICA")} AS africa,
         |       ${regionCase("AMERICA")} AS america,
         |       ${regionCase("ASIA")} AS asia,
         |       ${regionCase("EUROPE")} AS europe,
         |       ${regionCase("MIDDLE EAST")} AS middle_east,
         |       ${regionCase("Unknown")} AS unknown
         |FROM joined GROUP BY category ORDER BY category""".stripMargin))),
    // — unpivot (melt): the wide region columns back to sparse long form.
    //   Narrow Expand over the wide frame (one output row per non-null
    //   cell, no shuffle beyond the pivot's own agg); nulls filtered so
    //   the long form matches DuckDB UNPIVOT's null-excluding semantics —
    Query("x2_unpivot", ((s, dir) =>
      pivotWide(s, dir)
        .unpivot(Array(col("category")),
          Array(col("africa"), col("america"), col("asia"), col("europe"),
            col("middle_east"), col("unknown")),
          "region", "total")
        .filter(col("total").isNotNull)
        .orderBy("category", "region")), Some(Oracle.sqlWith(
      s"""joined AS (
         |  SELECT s.category, s.total_price,
         |         COALESCE(c.region, 'Unknown') AS region
         |  FROM clean_sales s
         |  LEFT JOIN clean_customers c ON s.customer_id = c.customer_id),
         |wide AS (
         |  SELECT category,
         |         ${regionCase("AFRICA")} AS africa,
         |         ${regionCase("AMERICA")} AS america,
         |         ${regionCase("ASIA")} AS asia,
         |         ${regionCase("EUROPE")} AS europe,
         |         ${regionCase("MIDDLE EAST")} AS middle_east,
         |         ${regionCase("Unknown")} AS unknown
         |  FROM joined GROUP BY category)""".stripMargin,
      """SELECT category, region, total FROM (
        |  SELECT category, 'africa' AS region, africa AS total FROM wide
        |  UNION ALL SELECT category, 'america', america FROM wide
        |  UNION ALL SELECT category, 'asia', asia FROM wide
        |  UNION ALL SELECT category, 'europe', europe FROM wide
        |  UNION ALL SELECT category, 'middle_east', middle_east FROM wide
        |  UNION ALL SELECT category, 'unknown', unknown FROM wide)
        |WHERE total IS NOT NULL
        |ORDER BY category, region""".stripMargin))),
    // Ordered LISTAGG: per category, the sorted distinct active months
    // as one CSV string. collect_set keeps the per-group state bounded
    // by DISTINCT cardinality (≤ months in range — bounded by the
    // calendar, not the data); array_sort pins the concat order so the
    // string is engine-deterministic. The 100 TB caveat is the generic
    // listagg one: this is only safe when the distinct set per group is
    // provably small — for unbounded sets use c12's top-k profile
    // instead of materializing the list.
    Query("x3_ordered_listagg", ((s, dir) =>
      Pipelines.cleanSales(s, dir)
        .groupBy("category")
        .agg(concat_ws(",", array_sort(collect_set(col("month"))))
            .as("months"),
          countDistinct("month").cast("long").as("n_months"))
        .orderBy("category")), Some(Oracle.sql(
      """SELECT category,
        |       string_agg(DISTINCT month, ',' ORDER BY month) AS months,
        |       CAST(COUNT(DISTINCT month) AS BIGINT) AS n_months
        |FROM clean_sales GROUP BY category ORDER BY category""".stripMargin))),
    // Z-order (Morton) curve values — the multi-column LAYOUT key
    // (functions/ZOrder): sorting the fact by the interleaved value
    // clusters rows in BOTH key dimensions into the same parquet row
    // groups, so min/max stats prune scans filtered on either column —
    // partitionBy/bucketBy handle one key each; this is the
    // several-keys-at-once tool (Sink.writeZOrdered is the write path;
    // SinkSpec pins the clustering actually tightens per-file bounding
    // boxes). The query registers the curve VALUE itself against the
    // oracle: both engines render the identical shift/mask sum, so the
    // layout key is engine-portable. Keys are clamped into the 10-bit
    // domain the interleave covers (the caller-owns-the-domain idiom).
    Query("x4_zorder", ((s, dir) => {
      val a = pmod(col("l_partkey"), lit(1024L))
      val b = least(greatest(floor(datediff(to_date(col("l_shipdate")),
        lit(java.sql.Date.valueOf("1995-01-01"))) / 4), lit(0)), lit(1023))
        .cast("long")
      Tables.table(s, dir, "lineitem")
        .select(a.as("pk_low"), b.as("day_off"))
        .distinct()
        .withColumn("z", graft.functions.ZOrder
          .zValue(col("pk_low"), col("day_off")))
        .orderBy("z", "pk_low", "day_off")
    }), Some(Oracle.sql(
      s"""SELECT pk_low, day_off,
         |       CAST(${graft.functions.ZOrder.zValueSql("pk_low", "day_off")} AS BIGINT) AS z
         |FROM (SELECT DISTINCT l_partkey % 1024 AS pk_low,
         |             LEAST(GREATEST(date_diff('day', DATE '1995-01-01',
         |               CAST(l_shipdate AS DATE)) // 4, 0), 1023) AS day_off
         |      FROM lineitem)
         |ORDER BY z, pk_low, day_off""".stripMargin))),
    // — feature hashing (the hashing trick): token → universal-hash
    //   bucket mod 64 over the rolling hash, per-doc sparse counts —
    //   the fixed-width categorical encoding that needs NO vocabulary
    //   build, join, or broadcast at any corpus size (collisions are
    //   the accepted trade; 64 buckets is the demo width, a real
    //   encoder uses 2^18+). One partial-agg shuffle on (doc_id,
    //   bucket); the hash is the seeded SQL-expressible family, so the
    //   oracle replays it exactly. —
    // x6 oracle: the same seeded affine-over-rolling-hash bucket, token
    // hash replayed as the t5 fold
    Query("x6_feature_hash", ((s, dir) => {
      val (a, b) = HashCoeffs.coeffs(1, FeatSeed).head
      val h = graft.functions.RollingHash.rolling_hash(col("tok"))
      val bucket = ((lit(a) * h + lit(b)) % lit(HashCoeffs.P)) % lit(64L)
      docs(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), bucket.as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("doc_id", "bucket")
    }), Some({
      val (a, b) = HashCoeffs.coeffs(1, FeatSeed).head
      Oracle.sqlWith(
        s"""toksx AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
           |hx AS (SELECT doc_id,
           |         (($a * list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(range(length(tok)),
           |               i -> CAST(unicode(substring(tok, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
           |             (h, c) -> (h * 131 + c) % ${HashCoeffs.P})
           |           + $b) % ${HashCoeffs.P}) % 64 AS bucket
           |       FROM toksx)""".stripMargin,
        """SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
          |       CAST(COUNT(*) AS BIGINT) AS n
          |FROM hx GROUP BY 1, 2
          |ORDER BY doc_id, bucket""".stripMargin)
    })),
    // — deterministic corpus shuffle into training shards (the step
    //   between a curated corpus and the shard files a trainer
    //   streams): shard = first md5 hex digit (16 shards), pos =
    //   0-based hash rank within the shard. See [[shardShuffle]] for
    //   the two-level enumeration that keeps window groups at a bounded
    //   corpus slice (1/256 at the gate-scale default width; [[subWidthFor]]
    //   widens sub until a group fits the executor target — ExtensionsSpec
    //   pins that a widened width is row-identical and bound-respecting). —
    // x7 oracle: the two-level enumeration collapses to one per-shard
    // rank (within a shard the hash's 2nd char IS the sub-group, so
    // offset + within-sub rank ≡ rank by hash) — stating it this way
    // makes the oracle itself the equivalence proof for the split form
    Query("x7_shard_shuffle", ((s, dir) =>
      shardShuffle(docs(s, dir)).orderBy("shard", "pos")), Some(Oracle.sqlWith(
      """hx7 AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents)""".stripMargin,
      """SELECT doc_id, substring(h, 1, 1) AS shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 1)
        |                               ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM hx7 ORDER BY shard, pos""".stripMargin))),
    // — SCD Type-2 dimension history (the warehouse twin of the
    //   reference's K5 upsert, which keeps only the LATEST row per key:
    //   type 2 keeps every attribute version with its validity
    //   interval). Tracked attribute: each customer's order priority
    //   over their order timeline. Consecutive equal values collapse to
    //   one version row via the lag-change filter; lead() closes each
    //   version's interval half-open [valid_from, valid_to), NULL
    //   valid_to = current. ONE customer-key exchange serves both
    //   windows — the change filter preserves partitioning AND sort
    //   order, so the lead/row_number window reuses the lag window's
    //   exchange and sort (plan-checked: a single Exchange in the
    //   optimized plan). Order key (d, o_orderkey) is total
    //   (o_orderkey unique), so versions are engine-identical; at
    //   100 TB the per-customer window state is that customer's CHANGE
    //   rows only — bounded by attribute churn, not event volume. —
    // x8 oracle: identical lag-change collapse + lead/row_number close,
    // stated over the same total (d, o_orderkey) order
    Query("x8_scd2_history", ((s, dir) =>
      scd2History(s, dir).orderBy("custkey", "version")), Some(Oracle.sqlWith(
      """scd8 AS (SELECT o_custkey, o_orderkey,
        |                CAST(o_orderdate AS DATE) AS d,
        |                o_orderpriority AS priority,
        |                LAG(o_orderpriority) OVER
        |                  (PARTITION BY o_custkey
        |                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |                  AS prev
        |         FROM orders),
        |chg8 AS (SELECT * FROM scd8
        |         WHERE prev IS NULL OR prev <> priority)""".stripMargin,
      """SELECT o_custkey AS custkey,
        |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |       priority, d AS valid_from,
        |       LEAD(d) OVER w AS valid_to,
        |       (LEAD(d) OVER w IS NULL) AS is_current
        |FROM chg8
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
        |ORDER BY custkey, version""".stripMargin))),
    // — CDC apply (merge a change feed into a snapshot): the batch form
    //   of the streaming upsert sink (st-family `upsertSink`) and the
    //   set-level twin of x8 (which keeps history; this produces the
    //   new CURRENT snapshot). The change feed is synthesized
    //   deterministically from orders (FIXTURES.md §3 sanctions
    //   query-side dirt): every order is an acctbal update for its
    //   customer, orders with o_orderkey % 50 == 0 are DELETEs, and
    //   custkey + max(c_custkey) rows are inserts of unseen keys — the
    //   offset is DERIVED from the snapshot (one 1-row dim agg,
    //   broadcast), so "unseen" holds at every SF: any fixed constant
    //   collides with real custkeys once 150k·SF crosses it (TPC-H
    //   customer = 150k·SF), silently turning claimed inserts into
    //   updates of real rows; o_custkey ≥ 1 puts every derived key
    //   strictly past the snapshot's max. Last
    //   change wins: one row_number window over the feed's total
    //   (seq_d, o_orderkey) order — the ONLY per-key state, bounded by
    //   the delta, not the snapshot. Apply is a single full-outer join
    //   snapshot ⟗ latest-change: DELETE drops, UPDATE overwrites,
    //   INSERT materializes, untouched rows pass through. At 100 TB
    //   the snapshot side never shuffles more than once (both sides
    //   hash on custkey) and a small delta broadcasts — the standard
    //   incremental-warehouse merge plan. —
    // x9 oracle: the same synthesized feed, last-change-wins window and
    // delete/upsert/insert case analysis over a FULL OUTER merge
    Query("x9_cdc_apply", ((s, dir) => {
      val snap = Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"),
          col("c_acctbal"))
      val maxCk = Tables.table(s, dir, "customer")
        .agg(max(col("c_custkey")).cast("long").as("maxck"))
      val feed = Tables.table(s, dir, "orders")
        .crossJoin(broadcast(maxCk))
        .select(
          when(col("o_orderkey") % 50 === 0, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          when(col("o_custkey") % 7 === 0, col("o_custkey") + col("maxck"))
            .otherwise(col("o_custkey")).as("custkey"),
          col("o_totalprice").as("new_acctbal"),
          to_date(col("o_orderdate")).as("seq_d"), col("o_orderkey"))
      val w = Window.partitionBy("custkey")
        .orderBy(col("seq_d").desc, col("o_orderkey").desc)
      val latest = feed.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("custkey"), col("op"), col("new_acctbal"))
      snap.join(latest, Seq("custkey"), "full_outer")
        .filter(coalesce(col("op"), lit("keep")) =!= "delete")
        .filter(col("c_mktsegment").isNotNull || col("op") === "upsert")
        .select(col("custkey"),
          coalesce(col("c_mktsegment"), lit("NEW")).as("c_mktsegment"),
          coalesce(col("new_acctbal"), col("c_acctbal")).as("acctbal"),
          when(col("op").isNull, "kept")
            .when(col("c_mktsegment").isNull, "inserted")
            .otherwise("updated").as("row_src"))
        .orderBy("custkey")
    }), Some(Oracle.sqlWith(
      """feed9 AS (SELECT CASE WHEN o_orderkey % 50 = 0 THEN 'delete'
        |                 ELSE 'upsert' END AS op,
        |                 CASE WHEN o_custkey % 7 = 0
        |                 THEN o_custkey + (SELECT MAX(c_custkey) FROM customer)
        |                 ELSE o_custkey END AS custkey,
        |                 o_totalprice AS new_acctbal,
        |                 CAST(o_orderdate AS DATE) AS seq_d, o_orderkey
        |          FROM orders),
        |last9 AS (SELECT custkey, op, new_acctbal
        |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey
        |                  ORDER BY seq_d DESC, o_orderkey DESC) AS rn
        |                FROM feed9)
        |          WHERE rn = 1),
        |m9 AS (SELECT COALESCE(s.c_custkey, l.custkey) AS custkey,
        |              s.c_mktsegment, s.c_acctbal, l.op, l.new_acctbal
        |       FROM customer s
        |       FULL OUTER JOIN last9 l ON s.c_custkey = l.custkey)""".stripMargin,
      """SELECT custkey, COALESCE(c_mktsegment, 'NEW') AS c_mktsegment,
        |       COALESCE(new_acctbal, c_acctbal) AS acctbal,
        |       CASE WHEN op IS NULL THEN 'kept'
        |            WHEN c_mktsegment IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS row_src
        |FROM m9
        |WHERE COALESCE(op, 'keep') <> 'delete'
        |  AND (c_mktsegment IS NOT NULL OR op = 'upsert')
        |ORDER BY custkey""".stripMargin))),
    // — k-anonymity generalization (x10): the privacy gate every
    //   dataset release runs — group records by their quasi-identifier
    //   tuple (region, registration month; missing dates are an
    //   explicit 'unknown' value, itself quasi-identifying) and
    //   SUPPRESS the quasi-ids of any record whose equivalence class
    //   has fewer than k = 10 members (a class that small re-identifies
    //   by linkage). Output is the anonymized per-record table, not
    //   just the audit. Plan shape: one partial-agg'able groupBy over
    //   the quasi-id domain (≤ |regions|·|months| classes — tiny at ANY
    //   corpus size) broadcast back onto the record stream — the
    //   suppression pass never shuffles the records themselves. Exact
    //   counts, deterministic strings → hash-oracled. —
    Query("x10_k_anonymity", ((s, dir) => {
      val k = 10
      val base = graft.etl.Pipelines.cleanCustomers(s, dir)
        .select(col("customer_id"), col("region"),
          coalesce(date_format(col("registration_date"), "yyyy-MM"),
            lit("unknown")).as("reg_month"))
      val classes = base.groupBy("region", "reg_month")
        .agg(count(lit(1)).as("n"))
      base.join(broadcast(classes), Seq("region", "reg_month"))
        .select(col("customer_id"),
          when(col("n") >= k, col("region")).otherwise(lit("*"))
            .as("region_anon"),
          when(col("n") >= k, col("reg_month")).otherwise(lit("*"))
            .as("month_anon"),
          (col("n") < k).as("is_suppressed"))
        .orderBy("customer_id")
    }), Some(Oracle.sqlWith(
      """base10 AS (SELECT customer_id, region,
        |                  COALESCE(strftime(registration_date, '%Y-%m'), 'unknown')
        |                    AS reg_month
        |           FROM clean_customers),
        |cls10 AS (SELECT region, reg_month, COUNT(*) AS n
        |          FROM base10 GROUP BY 1, 2)""".stripMargin,
      """SELECT b.customer_id,
        |       CASE WHEN c.n >= 10 THEN b.region ELSE '*' END AS region_anon,
        |       CASE WHEN c.n >= 10 THEN b.reg_month ELSE '*' END AS month_anon,
        |       c.n < 10 AS is_suppressed
        |FROM base10 b
        |JOIN cls10 c ON b.region = c.region AND b.reg_month = c.reg_month
        |ORDER BY customer_id""".stripMargin))),
    // — GDPR erasure cascade with audit (x11): the right-to-be-forgotten
    //   batch — an erasure-request table (here a deterministic md5-'f'
    //   1/16 of customers, standing in for arbitrary requested ids)
    //   cascades through every table keyed by the subject: customers by
    //   primary key, sales by the customer foreign key. Each table's
    //   erasure is ONE broadcast LEFT ANTI (the c18b device — requests
    //   are small relative to data at any scale; a non-broadcastable
    //   request set shuffles both sides and AQE splits skew, same
    //   fallback as c18b documents) and the emitted artifact is the
    //   AUDIT: per table, rows before / removed / after — the
    //   compliance evidence a DPO actually files. before = removed +
    //   after is enforced by construction here and re-asserted with the
    //   no-survivor property in the spec. Counts are one conditional
    //   aggregate per table — membership is a computable predicate, so
    //   the count pass never joins; only the (not-emitted-here)
    //   retained-table rewrite pays the anti-join. —
    // x11 oracle: the same computable-membership conditional counts
    Query("x11_gdpr_erasure", ((s, dir) => {
      val isForgotten = (c: org.apache.spark.sql.Column) =>
        substring(md5(c.cast("string")), 1, 1) === "f"
      val cust = graft.etl.Pipelines.cleanCustomers(s, dir)
      val sales = graft.etl.Pipelines.cleanSales(s, dir)
      val custAudit = cust.agg(
        count(lit(1)).as("rows_before"),
        sum(when(isForgotten(col("customer_id")), 1L).otherwise(0L))
          .as("rows_removed"))
        .select(lit("customers").as("table_name"), col("rows_before"),
          col("rows_removed"),
          (col("rows_before") - col("rows_removed")).as("rows_after"))
      val salesAudit = sales.agg(
        count(lit(1)).as("rows_before"),
        sum(when(isForgotten(col("customer_id")), 1L).otherwise(0L))
          .as("rows_removed"))
        .select(lit("sales").as("table_name"), col("rows_before"),
          col("rows_removed"),
          (col("rows_before") - col("rows_removed")).as("rows_after"))
      custAudit.unionAll(salesAudit).orderBy("table_name")
    }), Some(Oracle.sqlWith(
      """cu11 AS (SELECT 'customers' AS table_name,
        |                CAST(COUNT(*) AS BIGINT) AS rows_before,
        |                CAST(SUM(CASE WHEN substring(md5(CAST(customer_id
        |                    AS VARCHAR)), 1, 1) = 'f' THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS rows_removed
        |         FROM clean_customers),
        |sa11 AS (SELECT 'sales' AS table_name,
        |                CAST(COUNT(*) AS BIGINT) AS rows_before,
        |                CAST(SUM(CASE WHEN substring(md5(CAST(customer_id
        |                    AS VARCHAR)), 1, 1) = 'f' THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS rows_removed
        |         FROM clean_sales)""".stripMargin,
      """SELECT table_name, rows_before, rows_removed,
        |       rows_before - rows_removed AS rows_after
        |FROM (SELECT * FROM cu11 UNION ALL SELECT * FROM sa11)
        |ORDER BY table_name""".stripMargin))),
    // — pseudonymized entity join (x12): the privacy-preserving join
    //   the GDPR family (x10 generalization, x11 erasure) still
    //   needs: replace the raw customer key on BOTH sides with a
    //   salted one-way hash BEFORE the tables meet, so the analytics
    //   join never carries a raw identifier — the standard
    //   data-clean-room device. Deterministic keyed hashing (md5 with
    //   a pinned salt literal) preserves the join graph EXACTLY
    //   (ExtensionsSpec pins row-equality with the raw-key join);
    //   the pseudonym is computed in-scan on each side, so the only
    //   plan change is a 32-char shuffle key instead of a long — the
    //   price of non-reversibility. Production swaps md5+salt for
    //   HMAC-SHA256 with a managed secret; the plan is identical. —
    // x12 oracle: the same salted-hash pseudonym on both sides — the
    // hash match proves the pseudonymized join carries the same graph
    Query("x12_pseudonymized_join", ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      val ev = Tables.events(s, dir)
        .select(md5(concat(lit("graft-pii-v1:"),
          col("user_id").cast("string"))).as("pid"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
      val cust = graft.etl.Pipelines.cleanCustomers(s, dir)
        .select(md5(concat(lit("graft-pii-v1:"),
          col("customer_id").cast("string"))).as("pid"), col("region"))
      ev.join(broadcast(cust), Seq("pid"))
        .groupBy("pid", "region")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("val_cents"))
        .orderBy("pid")
    }), Some(Oracle.sqlWith(
      """pe12 AS (SELECT md5('graft-pii-v1:' || CAST(user_id AS VARCHAR))
        |                  AS pid,
        |                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |                  AS cents
        |         FROM events),
        |pc12 AS (SELECT md5('graft-pii-v1:' || CAST(customer_id AS VARCHAR))
        |                  AS pid, region
        |         FROM clean_customers)""".stripMargin,
      """SELECT e.pid, c.region, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(e.cents) AS BIGINT) AS val_cents
        |FROM pe12 e JOIN pc12 c ON e.pid = c.pid
        |GROUP BY 1, 2 ORDER BY e.pid""".stripMargin))),
    // — ε-differentially-private group counts (x12's release-side
    //   sibling, x13): the geometric mechanism (Ghosh–Roughgarden–
    //   Sundararajan's discrete Laplace — the utility-optimal integer
    //   mechanism for counting queries), ε = 1, sensitivity 1 (one
    //   customer contributes one row to one region). Noise is the
    //   pinned-threshold inverse-CDF draw (the a31 Poisson device):
    //   a 60-bit md5 uniform per group key maps through DpGeomCdf60
    //   to an integer in [−20, 20]; counts clamp at 0 (post-processing
    //   — DP-safe). Production swaps the seeded md5 for a real RNG;
    //   everything else — the one partial-agg shuffle to the
    //   |regions|-row census, the threshold fan, the clamp — is this
    //   exact plan, and the seed is what makes the release replayable
    //   by the oracle. The TRUE census never leaves the operator. —
    // x13 oracle: same census, same md5-60-bit uniform, same pinned
    // threshold fan, same clamp — the seeded draw is replayable by
    // construction
    Query("x13_dp_count", ((s, dir) => {
      val noise = DpGeomCdf60.map(t =>
        when(col("u") >= lit(t), 1L).otherwise(lit(0L))).reduce(_ + _) -
        lit(20L)
      graft.etl.Pipelines.cleanCustomers(s, dir)
        .groupBy("region").agg(count(lit(1)).as("n_true"))
        .withColumn("u",
          conv(substring(md5(concat(lit("dp13:"), col("region"))), 1, 15),
            16, 10).cast("long"))
        .select(col("region"),
          greatest(col("n_true") + noise, lit(0L)).as("n_noisy"),
          lit(1000000L).as("epsilon_e6"))
        .orderBy("region")
    }), Some(Oracle.sqlWith(
      s"""ct13 AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_true
         |         FROM clean_customers GROUP BY 1),
         |dr13 AS (SELECT region, n_true,
         |                CAST(('0x' || substring(md5('dp13:' || region),
         |                  1, 15)) AS BIGINT) AS u
         |         FROM ct13)""".stripMargin,
      s"""SELECT region,
         |       GREATEST(n_true + (${DpGeomCdf60.map(t =>
              s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString("\n         + ")})
         |                - 20, 0) AS n_noisy,
         |       CAST(1000000 AS BIGINT) AS epsilon_e6
         |FROM dr13 ORDER BY region""".stripMargin))),
    // — order-free table checksum (x14): the migration-verification op
    //   every 100 TB copy/backfill/engine-swap ends with — "does the
    //   destination hold EXACTLY the source's rows" without sorting,
    //   collecting, or trusting row order. Per row: a canonical
    //   pipe-joined serialization of the key + every exact column
    //   (cents for money — never a raw double; ISO date string both
    //   engines render identically), md5'd and truncated to the c14
    //   60-bit integer device; per category: COUNT + SUM of the 60-bit
    //   digests mod 10¹⁸ (sum on DECIMAL(38)/HUGEINT so no wraparound
    //   before the mod; both engines floor-mod positives identically).
    //   SUM is commutative-associative, so the register is order-free
    //   AND mergeable across partitions/shards by construction — two
    //   runs match iff the multisets of serialized rows match (up to
    //   an md5 collision, ~2⁻⁶⁰ per pair). Plan: scan-speed map + one
    //   partial-agg shuffle of ≤|categories| rows; nothing else moves. —
    // x14 oracle: same canonical pipe serialization (integer VARCHARs,
    // exact cents, ISO date), the c14 '0x'-prefix 60-bit digest device,
    // same HUGEINT sum-mod register
    Query("x14_table_checksum", ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cents = (col("unit_price").cast(Tables.Money) * 100)
        .cast("long")
      val rowStr = concat_ws("|",
        col("order_id").cast("string"), col("line_id").cast("string"),
        col("product_id").cast("string"), col("quantity").cast("string"),
        cents.cast("string"), col("order_date").cast("string"),
        col("customer_id").cast("string"))
      val h60 = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
      graft.etl.Pipelines.cleanSales(s, dir)
        .select(col("category"), h60.as("h"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast(d38)).as("sh"))
        .select(col("category"), col("n_rows"),
          expr("cast(sh % 1000000000000000000 as long)").as("checksum"))
        .orderBy("category")
    }), Some(Oracle.sqlWith(
      """h14x AS (SELECT category,
        |                CAST(('0x' || substring(md5(concat_ws('|',
        |                  CAST(order_id AS VARCHAR),
        |                  CAST(line_id AS VARCHAR),
        |                  CAST(product_id AS VARCHAR),
        |                  CAST(quantity AS VARCHAR),
        |                  CAST(CAST(CAST(unit_price AS DECIMAL(12,2)) * 100
        |                    AS BIGINT) AS VARCHAR),
        |                  CAST(order_date AS VARCHAR),
        |                  CAST(customer_id AS VARCHAR))), 1, 15))
        |                  AS BIGINT) AS h
        |         FROM clean_sales)""".stripMargin,
      """SELECT category, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(h AS HUGEINT)) % 1000000000000000000
        |         AS BIGINT) AS checksum
        |FROM h14x GROUP BY category ORDER BY category""".stripMargin))))
}
