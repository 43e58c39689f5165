package graft.queries

import graft.ops.Tables
import graft.ops.Ckpt.RichCkpt
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** q23-q28 — the relational capability surface (SURVEY.md §2.2/§2.3):
  * joins, group-by aggregation, sort/limit, grouping sets, set ops, JSON
  * scalar functions. The reference gets these from DuckDB on the read side;
  * we get them from Spark SQL built-ins. Scale notes inline per query.
  */
object RelQueries {

  /** q171's request-keyset predicate, shared by the Spark keys filter,
    * the map-side membership ground truth, AND the oracle SQL text —
    * one definition so the three sites cannot drift (they previously
    * duplicated the literals). The closed-form ground-truth equivalence
    * (`mem` ⇔ `o_custkey IN keys`) additionally assumes orders→customer
    * FK INTEGRITY: every o_custkey exists in customer, which the
    * driver-generated TPC-H-shaped fixture (and the TPC-H spec)
    * guarantees — on a fixture violating it, an order key satisfying
    * the residue without a customer row would count as a member the
    * keyset never held.
    */
  private val BloomKeyMod = 97
  private val BloomKeyRes = 13

  val all: Seq[Q] = Seq(
    // Semi join ↔ EXISTS. customer is a dimension, but a SCALING one
    // (rows ∝ SF, unlike nation/region's fixed domains) — so no pinned
    // broadcast hint (the q48 discipline): the size estimator / AQE
    // broadcasts it while it fits and falls back to a shuffled semi
    // join at the scale where a hint would OOM the driver.
    Q(
      "q23_semijoin_exists",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    ),
    // Star join + group-by revenue. nation broadcasts by HINT (25-row
    // fixed domain — bounded at any SF); customer broadcasts by SIZE
    // (it scales with SF, so the estimator/AQE owns the decision — a
    // pinned hint would OOM at 100×, the q48 discipline); only
    // lineitem⋈orders shuffles. Revenue summed EXACTLY in DECIMAL(18,4)
    // so the result is independent of partial-aggregation order (doubles
    // would be order-sensitive), then cast to double once.
    Q(
      "q24_star_join_agg",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
              .cast("double")
              .as("revenue"),
            count(lit(1)).as("n_items")
          )
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""")
    ),
    // Sort/limit top-k. Spark plans TakeOrderedAndProject — no full sort.
    Q(
      "q25_topk",
      (s, dir) =>
        Tables
          .orders(s, dir)
          .select(
            col("o_orderkey"),
            col("o_custkey"),
            col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date")
          )
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
        strftime(o_orderdate, '%Y-%m-%d') AS o_date
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")
    ),
    // Grouping sets / ROLLUP. NULLS FIRST pinned explicitly: Spark and
    // DuckDB default null ordering differ.
    Q(
      "q26_rollup",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
      },
      Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
    ),
    // Set op: customers who never ordered (EXCEPT = distinct anti).
    Q(
      "q27_except",
      (s, dir) =>
        Tables
          .customer(s, dir)
          .select(col("c_custkey"))
          .except(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders
        ORDER BY c_custkey""")
    ),
    // Set op: nations present among both customers and suppliers.
    Q(
      "q43_intersect",
      (s, dir) =>
        Tables
          .customer(s, dir)
          .select(col("c_nationkey").as("nationkey"))
          .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""")
    ),
    // Set op: distinct union of customer and supplier nations.
    Q(
      "q44_union",
      (s, dir) =>
        Tables
          .customer(s, dir)
          .select(col("c_nationkey").as("nationkey"))
          .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
          .distinct()
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""")
    ),
    // String / date / math scalar functions over orders.
    Q(
      "q45_scalar_fns",
      (s, dir) =>
        Tables
          .orders(s, dir)
          .select(
            col("o_orderkey"),
            upper(substring(col("o_orderstatus"), 1, 1)).as("status_u"),
            length(col("o_orderpriority")).cast("long").as("prio_len"),
            concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
            date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
            datediff(to_date(lit("2026-01-01")), to_date(col("o_orderdate"))).cast("long").as("age_days"),
            graft.ops.FeatureOps.r6(sqrt(abs(col("o_totalprice")))).as("sqrt_price"),
            graft.ops.FeatureOps.r6(pow(col("o_totalprice"), lit(0.25))).as("price_q")
          )
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        upper(substr(o_orderstatus, 1, 1)) AS status_u,
        CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS age_days,
        floor((sqrt(abs(o_totalprice))) * 1e6 + 5e-1) / 1e6 AS sqrt_price,
        floor((pow(o_totalprice, 25e-2)) * 1e6 + 5e-1) / 1e6 AS price_q
        FROM orders ORDER BY o_orderkey""")
    ),
    // Grouping sets: CUBE over region x market segment.
    Q(
      "q46_cube",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .cube(col("r_name"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(asc_nulls_first("r_name"), asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT r_name, c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE(r_name, c_mktsegment)
        ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""")
    ),
    // Session windows: 2h-gap sessionization per user (Spark
    // session_window ↔ DuckDB gaps-and-islands).
    Q(
      "q47_session_windows",
      (s, dir) =>
        Tables
          .events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
          .orderBy("user_id", "session_start"),
      Some("""WITH flagged AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 2 HOUR
                 THEN 1 ELSE 0 END AS newsess
          FROM events),
        sess AS (
          SELECT *, sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged)
        SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""")
    ),
    // Anti join ↔ NOT EXISTS (the explicit join-type form of q27). No
    // broadcast hint: orders is the FACT side — only its key column is
    // shuffled (projection below), and AQE may still choose a broadcast at
    // runtime when the key set turns out small. Hinting broadcast(orders)
    // here would pin a driver/executor OOM at 100×.
    Q(
      "q48_antijoin",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey""")
    ),
    // As-of join (self, point-in-time): for every event, the user's most
    // recent STRICTLY-PRIOR purchase timestamp — composed from existing
    // window ops (SURVEY.md §7.3 preference (a)): no shuffle beyond the
    // per-user window exchange.
    Q(
      "q49_asof_last_purchase",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, -1)
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            col("ts"),
            max(when(col("event_type") === "purchase", col("ts"))).over(w).as("last_purchase_ts")
          )
          .select(
            col("event_id"),
            col("user_id"),
            col("last_purchase_ts"),
            (col("ts").cast("long") - col("last_purchase_ts").cast("long")).as("gap_s")
          )
          .orderBy("event_id")
      },
      // floor() before the BIGINT cast: DuckDB's cast ROUNDS fractional
      // seconds while Spark's timestamp→long floors them
      Some("""SELECT event_id, user_id, last_purchase_ts,
        CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(last_purchase_ts)) AS BIGINT) AS gap_s
        FROM (
          SELECT event_id, user_id, ts,
            max(CASE WHEN event_type = 'purchase' THEN ts END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_ts
          FROM events) ORDER BY event_id""")
    ),
    // Range join: orders of the user's mapped customer cohort falling in
    // the 30 days before each event — equi key (pruned to a hash join)
    // plus a range post-filter; the small side broadcasts.
    Q(
      "q50_range_join",
      (s, dir) => {
        // Bucketed range join: the user_id equi-key alone has 15 values, so a
        // plain hash join would scan ~1/15 of orders per event — O(|E|·|O|)
        // at scale. Quantizing time into 30-day buckets adds a second
        // equi-key: an order at bucket b can only satisfy the 30-day range
        // for events in buckets {b, b+1}, so each order is emitted under
        // those two keys and the range predicate only post-filters within a
        // bucket. Result-identical (the bucket condition is implied by the
        // range condition) but probe work drops from O(span) to O(1 bucket).
        val bucketSecs = 30L * 86400L
        val e = Tables
          .events(s, dir)
          .withColumn("ebkt", floor(unix_timestamp(col("ts")) / bucketSecs))
        val o = Tables
          .orders(s, dir)
          .select(col("o_custkey"), col("o_orderdate"))
          .withColumn("obkt", floor(unix_timestamp(col("o_orderdate")) / bucketSecs))
          .select(
            col("o_custkey"),
            col("o_orderdate"),
            explode(array(col("obkt"), col("obkt") + 1)).as("jbkt")
          )
        // No broadcast hint: the (cohort, bucket) equi-keys already admit a
        // shuffle hash join, and the exploded orders side is 2× the fact
        // table — broadcasting it is exactly the plan that dies at 100×.
        // AQE still converts to broadcast at runtime when the side is
        // genuinely small (as it is at test SFs).
        e.join(
          o,
          pmod(col("o_custkey"), lit(15)) === col("user_id") &&
            col("ebkt") === col("jbkt") &&
            col("o_orderdate") >= col("ts") - expr("INTERVAL 30 DAYS") &&
            col("o_orderdate") <= col("ts"),
          "left_outer"
        ).groupBy(col("event_id"))
          .agg(count(col("o_custkey")).as("n_orders_30d"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(count(o_custkey) AS BIGINT) AS n_orders_30d
        FROM events e LEFT JOIN orders o
          ON (o.o_custkey % 15) = e.user_id
         AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
         AND o.o_orderdate <= e.ts
        GROUP BY event_id ORDER BY event_id""")
    ),
    // Distinct aggregation: count(DISTINCT …) alongside plain counts.
    Q(
      "q51_distinct_agg",
      (s, dir) =>
        Tables
          .events(s, dir)
          .groupBy(col("user_id"))
          .agg(
            countDistinct(col("event_type")).as("n_types"),
            count(lit(1)).as("n_events")
          )
          .orderBy("user_id"),
      Some("""SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id""")
    ),
    // Pivot: user x event_type count matrix (explicit value list so the
    // output schema is static — the scale-safe pivot form).
    Q(
      "q52_pivot",
      (s, dir) =>
        Tables
          .events(s, dir)
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      Some("""SELECT user_id,
        CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        FROM events GROUP BY user_id ORDER BY user_id""")
    ),
    // Exact percentiles (linear interpolation — both engines implement
    // the same p*(n-1) rule; rounded like every other double output).
    Q(
      "q53_percentiles",
      (s, dir) =>
        Tables
          .events(s, dir)
          .groupBy(col("user_id"))
          .agg(
            graft.ops.FeatureOps.r6(expr("percentile(value, 0.5)")).as("p50"),
            graft.ops.FeatureOps.r6(expr("percentile(value, 0.9)")).as("p90")
          )
          .orderBy("user_id"),
      Some("""SELECT user_id,
        floor((quantile_cont(value, 5e-1)) * 1e6 + 5e-1) / 1e6 AS p50,
        floor((quantile_cont(value, 9e-1)) * 1e6 + 5e-1) / 1e6 AS p90
        FROM events GROUP BY user_id ORDER BY user_id""")
    ),
    // Correlated scalar subquery — Catalyst decorrelates it into an
    // aggregate + join (SURVEY.md §4 "subquery decorrelation ... for
    // free"). max, not avg: a double avg is partial-aggregation-order
    // sensitive and a threshold filter would turn ULP noise into
    // membership differences.
    Q(
      "q54_correlated_subquery",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders_v o
          WHERE o_totalprice >= (SELECT max(o2.o_totalprice)
                                 FROM orders_v o2
                                 WHERE o2.o_custkey = o.o_custkey)
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice >= (SELECT max(o2.o_totalprice)
                               FROM orders o2
                               WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    ),
    // Ranking window functions: rank / dense_rank / ntile / lead over a
    // total per-user order (ts is unique per user).
    Q(
      "q55_rank_fns",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts")
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            rank().over(w).cast("long").as("rk"),
            dense_rank().over(w).cast("long").as("drk"),
            ntile(4).over(w).cast("long").as("quartile"),
            lead(col("value"), 1).over(w).as("next_value")
          )
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        CAST(rank() OVER w AS BIGINT) AS rk,
        CAST(dense_rank() OVER w AS BIGINT) AS drk,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        lead(value, 1) OVER w AS next_value
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ORDER BY event_id""")
    ),
    // TPC-H Q1 shape: pricing summary per returnflag/linestatus. Every
    // money aggregate sums exactly in DECIMAL before one cast; averages
    // divide one exact sum by the count.
    Q(
      "q56_pricing_summary",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        def dsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(28,6)")).cast("double")
        l.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
              .as("sum_charge"),
            graft.ops.FeatureOps.r6(
              sum(col("l_quantity").cast("decimal(28,6)")).cast("double") / count(lit(1))
            ).as("avg_qty"),
            count(lit(1)).as("count_order")
          )
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice * (1e0 - l_discount) * (1e0 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        floor((CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*)) * 1e6 + 5e-1) / 1e6 AS avg_qty,
        CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    ),
    // TPC-H Q6 shape: filtered revenue sum — the shipdate range and
    // discount band reach the parquet scan as PushedFilters.
    Q(
      "q57_filtered_revenue",
      (s, dir) =>
        Tables
          .lineitem(s, dir)
          .filter(
            col("l_shipdate") >= lit("2024-03-01").cast("timestamp") &&
              col("l_shipdate") < lit("2024-09-01").cast("timestamp") &&
              col("l_discount").between(0.02, 0.06) &&
              col("l_quantity") < 30
          )
          .agg(
            sum((col("l_extendedprice") * col("l_discount")).cast("decimal(28,6)"))
              .cast("double")
              .as("revenue"),
            count(lit(1)).as("n_items")
          ),
      Some("""SELECT
        CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2024-03-01 00:00:00'
          AND l_shipdate < TIMESTAMP '2024-09-01 00:00:00'
          AND l_discount BETWEEN 2e-2 AND 6e-2
          AND l_quantity < 30
        ORDER BY revenue""")
    ),
    // JSON scalar extraction from the events props column.
    Q(
      "q28_json_props",
      (s, dir) =>
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k")
          )
          .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id""")
    ),
    // Raw SQL entry point: the same engine surface via spark.sql over
    // parquet.`path` tables — a user of the reference queries its DuckDB
    // exports with SQL text, and this is that path on our side (TPC-H
    // Q3-ish: top-10 open orders by revenue). Catalyst plans it exactly
    // like the DataFrame forms (same pushdown/broadcast decisions);
    // decimal-exact revenue, 1e0 double literals on both engines.
    Q(
      "q72_sql_api",
      (s, dir) =>
        s.sql(s"""
          SELECT o.o_orderkey,
                 CAST(SUM(CAST(l.l_extendedprice * (1e0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                 CAST(COUNT(*) AS BIGINT) AS n_items
          FROM parquet.`$dir/lineitem.parquet` l
          JOIN parquet.`$dir/orders.parquet` o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderstatus = 'O'
          GROUP BY o.o_orderkey
          ORDER BY revenue DESC, o_orderkey
          LIMIT 10"""),
      Some("""SELECT o_orderkey,
        CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""")
    ),
    // Time-series gap-fill / resample (q90): daily close per user on the
    // FULL calendar span, missing days forward-filled (LOCF) — the
    // regularization step before any window/EMA feature runs on a sparse
    // feed. Scale shape: one shuffle to (user, day) bars, a tiny per-user
    // span aggregate whose exploded calendar joins back on (user, day),
    // then the classic two-window LOCF (non-null count -> group, max
    // within group) sharing ONE partition-by-user sort lineage — no
    // generate_series-sized shuffle, no per-row UDF.
    Q(
      "q90_gap_fill",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // (user_id, ts) is unique in events, so max_by is deterministic
        val bars = Tables
          .events(s, dir)
          .groupBy(col("user_id"), to_date(col("ts")).as("d"))
          .agg(expr("max_by(value, ts)").as("close"))
        val span = bars
          .groupBy("user_id")
          .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
          .select(
            col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d")
          )
        val wRun = Window.partitionBy("user_id").orderBy("d")
        span
          .join(bars, Seq("user_id", "d"), "left")
          .withColumn("grp", count(col("close")).over(wRun))
          .withColumn("close_ff", max(col("close")).over(Window.partitionBy("user_id", "grp")))
          .select(
            col("user_id"),
            (year(col("d")).cast("long") * 10000 +
              month(col("d")).cast("long") * 100 +
              dayofmonth(col("d")).cast("long")).as("day"),
            col("close").isNull.as("filled"),
            col("close_ff")
          )
          .orderBy("user_id", "day")
      },
      Some("""WITH b AS (SELECT user_id, date_trunc('day', ts) AS d,
            arg_max(value, ts) AS close
          FROM events GROUP BY 1, 2),
        span AS (SELECT user_id,
            unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS d
          FROM b GROUP BY user_id),
        j AS (SELECT s.user_id, s.d, b.close
          FROM span s LEFT JOIN b ON b.user_id = s.user_id AND b.d = s.d),
        g AS (SELECT *, count(close) OVER (PARTITION BY user_id ORDER BY d) AS grp FROM j)
        SELECT user_id,
          CAST(year(d)*10000 + month(d)*100 + day(d) AS BIGINT) AS day,
          (close IS NULL) AS filled,
          max(close) OVER (PARTITION BY user_id, grp) AS close_ff
        FROM g ORDER BY user_id, day""")
    ),
    // GROUPING SETS (q91): the general form behind rollup (q26) and cube
    // (q46) — explicit set list + grouping() provenance flags, the shape
    // reporting layers emit. One pass: Spark expands the sets into a
    // single Expand + hash aggregate (partial before the shuffle), not
    // four scans. Decimal-exact qty sum, q56's discipline.
    Q(
      "q91_grouping_sets",
      (s, dir) =>
        s.sql(s"""
          SELECT l_returnflag, l_linestatus,
            CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
            CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
          FROM parquet.`$dir/lineitem.parquet`
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
          ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
      Some("""SELECT l_returnflag, l_linestatus,
          CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
          CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    ),
    // CSV source round-trip (q94): parquet → header'd CSV → EXPLICIT-
    // schema typed read-back (never inferSchema — it double-scans and
    // types by guess). The census is computed FROM THE CSV READ-BACK and
    // a fidelity probe compares read-back to the original as MULTISETS
    // via an order-independent row-hash checksum: count + exact DECIMAL
    // sum of xxhash64 over every column, map-only on both sides — the
    // 100 TB probe shape (the first cut used exceptAll, which shuffles
    // both full tables twice; the fixture's (orderkey, linenumber) is
    // not unique, so a key join can't anchor row identity either). The
    // oracle expects checksum_match = TRUE, so a lossy write/parse
    // (timestamp format, double representation, quoting) fails the
    // hash, not just the row count.
    Q(
      "q94_csv_roundtrip",
      (s, dir) => {
        val orig = Tables.lineitem(s, dir)
        val path = graft.sources.CsvSource.stageLineitemCsv(s, dir)
        val back = graft.sources.CsvSource.readLineitemCsv(s, path, orig.schema)
        // decimal(38,0) sum: exact, overflow-free under ANSI mode
        def checksum(df: org.apache.spark.sql.DataFrame) = df
          .agg(
            count(lit(1)),
            sum(xxhash64(orig.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))
          )
          .head()
        val (co, cb) = (checksum(orig), checksum(back))
        val matches = co.getLong(0) == cb.getLong(0) && co.getDecimal(1) == cb.getDecimal(1)
        back
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
            (year(max(col("l_shipdate"))).cast("long") * 10000 +
              month(max(col("l_shipdate"))).cast("long") * 100 +
              dayofmonth(max(col("l_shipdate"))).cast("long")).as("max_ship_day")
          )
          .withColumn("checksum_match", lit(matches))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          CAST(year(max(l_shipdate))*10000 + month(max(l_shipdate))*100 + day(max(l_shipdate)) AS BIGINT) AS max_ship_day,
          TRUE AS checksum_match
        FROM lineitem ORDER BY n_rows""")
    ),
    // ORC source + pushdown proof (q95): ORC is typed/splittable like
    // parquet, so the contract here is the SCALE property — the status
    // equality and price range filters must reach the ORC scan as
    // PushedFilters (stripe/row-group skipping at 100 TB). The query
    // asserts that from its own executed plan and folds the flag into
    // the hash-checked row (the s08/s10 pattern): a regression that
    // turns the pushdown off flips filters_pushed and fails the gate.
    Q(
      "q95_orc_pushdown",
      (s, dir) => {
        val path = graft.sources.OrcSource.stageOrdersOrc(s, dir)
        val filtered = graft.sources.OrcSource
          .readOrdersOrc(s, path)
          .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 150000.0)
        // read the scan node's metadata, not the rendered plan string —
        // simpleString truncates long filter lists ("GreaterThan(o_total...")
        val pushedStr = filtered.queryExecution.executedPlan
          .collect { case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
            sc.metadata.getOrElse("PushedFilters", "")
          }
          .mkString(";")
        val pushed = pushedStr.contains("EqualTo(o_orderstatus,O)") &&
          pushedStr.contains("GreaterThan(o_totalprice,150000.0)")
        filtered
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("o_custkey")).as("n_cust"),
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("sum_price"),
            (year(max(col("o_orderdate"))).cast("long") * 10000 +
              month(max(col("o_orderdate"))).cast("long") * 100 +
              dayofmonth(max(col("o_orderdate"))).cast("long")).as("max_day")
          )
          .withColumn("filters_pushed", lit(pushed))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
          CAST(year(max(o_orderdate))*10000 + month(max(o_orderdate))*100 + day(max(o_orderdate)) AS BIGINT) AS max_day,
          TRUE AS filters_pushed
        FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 150000e0
        ORDER BY n_rows""")
    ),
    // Latest-version compaction (q96): keep each user's most recent event
    // — the CDC/upsert-compaction primitive every incremental warehouse
    // runs (latest-wins by (ts, event_id)). NOT a window: max(struct) is
    // a partial-aggregable one-pass reduction, so the map side collapses
    // every partition to one candidate row per user before the single
    // hash shuffle — a rank-1 row_number window would instead sort whole
    // user partitions. The (ts, event_id) tuple is unique, so trailing
    // struct fields never influence the order, they just ride along.
    Q(
      "q96_latest_event",
      (s, dir) =>
        Tables
          .events(s, dir)
          .groupBy(col("user_id"))
          .agg(
            max(struct(col("ts"), col("event_id"), col("value"), col("event_type"))).as("last"),
            count(lit(1)).as("n_events")
          )
          .select(
            col("user_id"),
            col("last.event_id").as("last_event"),
            col("last.ts").as("last_ts"),
            col("last.value").as("last_value"),
            col("last.event_type").as("last_type"),
            col("n_events")
          )
          .orderBy("user_id"),
      Some("""SELECT user_id, last_event, last_ts, last_value, last_type, n_events FROM (
          SELECT user_id, event_id AS last_event, ts AS last_ts, value AS last_value,
            event_type AS last_type,
            CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
            row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
          FROM events) WHERE rk = 1 ORDER BY user_id""")
    ),
    // q103: time-RANGE window frame — the window feature family's last
    // uncovered member (q13 is a ROWS frame, q90's LOCF windows are
    // unbounded): a trailing 7-DAY frame keyed on epoch-day, where ties
    // on the order key share one frame and gaps in the calendar shrink
    // it — semantics a ROWS frame cannot express. The trailing-window
    // per-entity rollup (L7 activity, rolling revenue) is the
    // time-series feature primitive at any scale: one shuffle on
    // user_id + one sort serves the frame; sums are DECIMAL-exact
    // (order-free) so both engines agree bit-for-bit.
    Q(
      "q103_rolling_range_window",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val epochDay = datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long")
        val w = Window.partitionBy("user_id").orderBy("epoch_day").rangeBetween(-6, 0)
        // the decimal cast is pre-projected so BOTH window aggregates
        // share one WindowExec (a cast born inside the second
        // .withColumn's sum forces a Project between two Window nodes,
        // which blocks CollapseWindow — one extra pass per partition)
        Tables
          .events(s, dir)
          .select(
            col("event_id"),
            col("user_id"),
            epochDay.as("epoch_day"),
            col("value"),
            col("value").cast("decimal(18,4)").as("dvalue")
          )
          .select(
            col("event_id"),
            col("user_id"),
            col("epoch_day"),
            col("value"),
            count(lit(1)).over(w).as("n_7d"),
            sum(col("dvalue")).over(w).cast("double").as("sum_7d")
          )
          .orderBy("user_id", "epoch_day", "event_id")
      },
      Some("""SELECT event_id, user_id,
          CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS epoch_day,
          value,
          CAST(count(*) OVER w AS BIGINT) AS n_7d,
          CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_7d
        FROM events
        WINDOW w AS (PARTITION BY user_id
          ORDER BY date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, epoch_day, event_id""")
    ),
    // q106: schema-evolution read (SchemaEvolution.scala scaladoc) — a
    // two-generation parquet dataset where generation 0 predates the
    // n_chars column; `mergeSchema` unions the footers and old files
    // surface NULL. The merged-shape assertion comes from the resulting
    // schema itself and is folded into the hashed row; the census reads
    // THROUGH the merged view (null-skipping count/sum make the
    // generation boundary visible), while the oracle recomputes it from
    // the base table with the generation rule inlined — proving the
    // evolved read loses nothing.
    Q(
      "q106_schema_evolution",
      (s, dir) => {
        val path = graft.sources.SchemaEvolution.stageTwoGenerations(s, dir)
        val merged = graft.sources.SchemaEvolution.readMerged(s, path)
        val shapeOk = merged.schema.fieldNames.sorted.sameElements(
          Array("doc_id", "lang", "n_chars")
        ) && merged.schema("n_chars").nullable
        merged
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(col("n_chars")).as("n_with_chars"), // null-skipping: gen-1 rows only
            sum(col("n_chars")).as("sum_chars")
          )
          .withColumn("schema_merged", lit(shapeOk))
          .orderBy("lang")
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_chars,
          CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars,
          TRUE AS schema_merged
        FROM documents GROUP BY lang ORDER BY lang""")
    ),
    // q107: unpivot (melt) — the inverse of q52's pivot, completing the
    // reshape family: a wide per-user feature matrix (one column per
    // event type, the q52 FILTER-column form) melts back to long
    // (user_id, event_type, total) — the layout feature stores and
    // training exporters want. Spark's native `unpivot` keeps the
    // operation a zero-shuffle projection (each wide row explodes to 3
    // long rows map-side); nulls are coalesced to 0 in the wide stage so
    // both engines' null conventions never meet the melt. Oracle melts
    // via UNION ALL — the portable form of UNPIVOT.
    Q(
      "q107_unpivot",
      (s, dir) => {
        val types = Seq("click", "purchase", "view")
        val aggs = types.map(t =>
          coalesce(
            sum(when(col("event_type") === t, col("value").cast("decimal(18,4)"))),
            lit(0).cast("decimal(18,4)")
          ).as(t)
        )
        val wide = Tables
          .events(s, dir)
          .groupBy(col("user_id"))
          .agg(aggs.head, aggs.tail: _*)
        wide
          .unpivot(
            ids = Array(col("user_id")),
            values = types.map(col).toArray,
            variableColumnName = "event_type",
            valueColumnName = "total"
          )
          .select(col("user_id"), col("event_type"), col("total").cast("double").as("total"))
          .orderBy("user_id", "event_type")
      },
      Some("""WITH wide AS (
          SELECT user_id,
            coalesce(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END), 0) AS click,
            coalesce(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END), 0) AS purchase,
            coalesce(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END), 0) AS view_
          FROM events GROUP BY user_id)
        SELECT user_id, event_type, CAST(total AS DOUBLE) AS total FROM (
          SELECT user_id, 'click' AS event_type, click AS total FROM wide
          UNION ALL SELECT user_id, 'purchase', purchase FROM wide
          UNION ALL SELECT user_id, 'view', view_ FROM wide)
        ORDER BY user_id, event_type""")
    ),
    // q108: CDC apply with delete tombstones — q96's latest-wins
    // compaction extended to the full merge pattern every lake table
    // maintains: per entity key (user_id, event_type) the LATEST change
    // wins, and an entity whose latest state marks it deleted (value
    // below the tombstone threshold here) must vanish from the applied
    // table. Both steps ride ONE partial-aggregable reduction: the map
    // side collapses each partition to ≤1 candidate per key before the
    // single shuffle (q96's max(struct) shape), and the tombstone drop
    // is a map filter on the reduced frame — deletes cost zero extra
    // shuffles. The oracle runs the rank-1-window + filter form, so the
    // hash proves reduction ≡ rank, including the delete semantics.
    Q(
      "q108_cdc_apply",
      (s, dir) =>
        Tables
          .events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(
            max(struct(col("ts"), col("event_id"), col("value"))).as("last"),
            count(lit(1)).as("n_changes")
          )
          .filter(col("last.value") >= 50.0) // latest change is a tombstone → entity deleted
          .select(
            col("user_id"),
            col("event_type"),
            col("last.event_id").as("last_event"),
            col("last.ts").as("last_ts"),
            col("last.value").as("last_value"),
            col("n_changes")
          )
          .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, last_event, last_ts, last_value, n_changes FROM (
          SELECT user_id, event_type, event_id AS last_event, ts AS last_ts,
            value AS last_value,
            CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS n_changes,
            row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rk
          FROM events) WHERE rk = 1 AND last_value >= 50e0
        ORDER BY user_id, event_type""")
    ),
    // q112: funnel mining — the event-SEQUENCE analytics shape (which
    // 3-step paths do users actually walk?): two stacked lead() offsets
    // over one per-user time order turn the event log into overlapping
    // step triples, then a tiny aggregate counts each path. ONE user_id
    // shuffle + ONE sort feed a single WindowExec computing both leads
    // (CollapseWindow — same partition/order spec); the triple aggregate
    // is bounded by |event_type|³ keys, so partial aggregation collapses
    // it map-side and the second shuffle carries ≤ types³ × partitions
    // rows. (event_id breaks ts ties — bit-stable across engines.)
    Q(
      "q112_funnel_triples",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables
          .events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .select(
            col("event_type").as("step1"),
            lead(col("event_type"), 1).over(w).as("step2"),
            lead(col("event_type"), 2).over(w).as("step3")
          )
          .filter(col("step2").isNotNull && col("step3").isNotNull)
          .groupBy("step1", "step2", "step3")
          .agg(count(lit(1)).as("n_occurrences"))
          .orderBy("step1", "step2", "step3")
      },
      Some("""WITH seq AS (SELECT event_type AS step1,
          lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
          lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
        FROM events)
        SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM seq WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        GROUP BY step1, step2, step3 ORDER BY step1, step2, step3""")
    ),
    // q113: cohort retention — the (cohort, week-offset) active-user
    // matrix every growth dashboard draws. Shape chosen for scale: ONE
    // per-user aggregate computes the cohort day AND the distinct-day
    // set together (collect_set bounded by the corpus day span, ≤31
    // here), the explode is map-side, and the final (cohort, week)
    // aggregate is the only other shuffle — vs the naive
    // distinct-then-window form whose window repartition buys a third
    // exchange. Integer day/offset math end to end (epoch-day, div 7).
    Q(
      "q113_cohort_retention",
      (s, dir) => {
        val eday = datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long")
        Tables
          .events(s, dir)
          .select(col("user_id"), eday.as("eday"))
          .groupBy("user_id")
          .agg(min(col("eday")).as("cohort"), collect_set(col("eday")).as("days"))
          .select(col("user_id"), col("cohort"), explode(col("days")).as("eday"))
          .select(col("user_id"), col("cohort"), expr("(eday - cohort) div 7").as("week_offset"))
          .groupBy("cohort", "week_offset")
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH d AS (SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS eday
          FROM events),
        cohorts AS (SELECT user_id, min(eday) AS cohort FROM d GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, eday FROM d)
        SELECT c.cohort, (a.eday - c.cohort) // 7 AS week_offset,
          CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM active a JOIN cohorts c USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort, week_offset""")
    ),
    // q114: SCD Type-2 history build — the lakehouse dimension-history
    // pattern (q96/q108's compaction keeps only the latest state; SCD2
    // keeps EVERY state with its validity interval): per (user_id,
    // event_type) entity, each change row gets valid_from = its ts,
    // valid_to = the NEXT change's ts (NULL while current), version =
    // its change ordinal, is_current. ONE entity shuffle + ONE sort
    // feed a single WindowExec computing lead + row_number together
    // (same partition/order spec → CollapseWindow), map-only after.
    // event_id breaks ts ties so intervals are bit-stable across
    // engines.
    Q(
      "q114_scd2_history",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        Tables
          .events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
          .select(
            col("user_id"),
            col("event_type"),
            col("event_id"),
            col("ts").as("valid_from"),
            lead(col("ts"), 1).over(w).as("valid_to"),
            row_number().over(w).cast("long").as("version"),
            lead(col("ts"), 1).over(w).isNull.as("is_current")
          )
          .orderBy("user_id", "event_type", "version")
      },
      Some("""SELECT user_id, event_type, event_id, ts AS valid_from,
          lead(ts, 1) OVER w AS valid_to,
          CAST(row_number() OVER w AS BIGINT) AS version,
          (lead(ts, 1) OVER w IS NULL) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        ORDER BY user_id, event_type, version""")
    ),
    // q115: Z-order (Morton) clustering key — the LAYOUT primitive
    // behind multi-dimensional data skipping at 100 TB: interleaving
    // the bits of two dimensions gives one sort key under which any
    // aligned key block covers a bounded RECTANGLE of both dims, so
    // min/max file stats prune on either predicate (a single-column
    // sort clusters one dim and scatters the other). Key compute is
    // map-only integer bit math (8 bits per dim → 16-bit key, identical
    // shiftright/and/shiftleft chains in both engines); the audit
    // aggregate groups by 16-aligned block and pins the bounded spans:
    // every block's (user span × day span) stays within the 4×4
    // quadrant the interleaving guarantees — folded into the hashed
    // rows as the max-span columns.
    Q(
      "q115_zorder_key",
      (s, dir) => {
        val eday = datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long")
        val ux = col("user_id") % 256
        val dy = col("eday") % 256
        val morton = (0 until 8)
          .map(i =>
            (shiftleft(shiftright(ux, i) % 2, 2 * i + 1) +
              shiftleft(shiftright(dy, i) % 2, 2 * i)).cast("long"))
          .reduce(_ + _)
        Tables
          .events(s, dir)
          .select(col("user_id"), eday.as("eday"))
          .withColumn("zkey", morton)
          .groupBy(expr("zkey div 16").as("zblock"))
          .agg(
            count(lit(1)).as("n_rows"),
            (max(col("user_id") % 256) - min(col("user_id") % 256)).as("user_span"),
            (max(col("eday") % 256) - min(col("eday") % 256)).as("day_span")
          )
          .orderBy("zblock")
      },
      Some {
        val morton = (0 until 8)
          .map(i => s"(((ux >> $i) % 2) << ${2 * i + 1}) + (((dy >> $i) % 2) << ${2 * i})")
          .mkString(" + ")
        s"""WITH d AS (SELECT user_id % 256 AS ux,
            CAST(floor(epoch(ts) / 86400) AS BIGINT) % 256 AS dy
          FROM events),
          k AS (SELECT ux, dy, CAST($morton AS BIGINT) AS zkey FROM d)
          SELECT zkey // 16 AS zblock, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(max(ux) - min(ux) AS BIGINT) AS user_span,
            CAST(max(dy) - min(dy) AS BIGINT) AS day_span
          FROM k GROUP BY 1 ORDER BY zblock"""
      }
    ),
    // q116: distribution-rank window family — ntile / percent_rank /
    // cume_dist, the remaining uncovered rank functions beside q55's
    // rank/dense_rank/row_number. Tie discipline differs BY FUNCTION
    // and is chosen for cross-engine determinism: percent_rank and
    // cume_dist order by value ALONE (they are functions of the peer
    // group, so ties share one exact rational result in both engines),
    // while ntile orders by (value, event_id) — a TOTAL order, because
    // tile assignment is positional and ties would otherwise split
    // across tiles engine-dependently. One event_type shuffle; the two
    // order specs share the exchange, each sorting once.
    Q(
      "q116_dist_rank_family",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wTotal = Window.partitionBy("event_type").orderBy("value", "event_id")
        val wPeers = Window.partitionBy("event_type").orderBy("value")
        Tables
          .events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .select(
            col("event_id"),
            col("event_type"),
            col("value"),
            ntile(4).over(wTotal).cast("long").as("tile4"),
            graft.ops.FeatureOps.r6(percent_rank().over(wPeers)).as("pct_rank6"),
            graft.ops.FeatureOps.r6(cume_dist().over(wPeers)).as("cume6")
          )
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, event_type, value,
          CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS tile4,
          ${graft.oracle.OracleSql
          .r6("percent_rank() OVER (PARTITION BY event_type ORDER BY value)")} AS pct_rank6,
          ${graft.oracle.OracleSql
          .r6("cume_dist() OVER (PARTITION BY event_type ORDER BY value)")} AS cume6
        FROM events ORDER BY event_id""")
    ),
    // q117: JSONL ingestion with corrupt-record quarantine
    // (sources/JsonlSource scaladoc) — the per-lang census over the
    // permissive read-back: corrupt lines surface as the NULL-lang
    // quarantine group (all fields null, raw line in `_corrupt`), good
    // rows parse exactly against the explicit schema. The oracle
    // mirrors the deterministic corruption rule closed-form from the
    // base table — the hash proves nothing was dropped OR silently
    // mis-parsed in either direction. NULLS FIRST pinned on both sides
    // (the engines' default null sort order differs).
    Q(
      "q117_jsonl_quarantine",
      (s, dir) => {
        val staged = graft.sources.JsonlSource.stageDocsJsonl(s, dir)
        graft.sources.JsonlSource
          .readDocsJsonl(s, staged)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("_corrupt")).as("n_quarantined"),
            sum(col("n_chars")).as("sum_chars")
          )
          .orderBy(col("lang").asc_nulls_first)
      },
      Some(s"""SELECT lang, n_rows, n_quarantined, sum_chars FROM (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(0 AS BIGINT) AS n_quarantined,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents
          WHERE doc_id % ${graft.sources.JsonlSource.CorruptMod}
                  <> ${graft.sources.JsonlSource.CorruptRem}
          GROUP BY lang
          UNION ALL
          SELECT NULL, CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), NULL
          FROM documents
          WHERE doc_id % ${graft.sources.JsonlSource.CorruptMod}
                  = ${graft.sources.JsonlSource.CorruptRem})
        ORDER BY lang NULLS FIRST""")
    ),
    // q119: FORWARD as-of — q49's backward as-of mirrored in time: for
    // each alert (value > 250), the FIRST calm event (value < 50) at or
    // after it per user, and the recovery gap in seconds ("time to
    // recovery" / next-touch attribution). No join at all: one running
    // min over reverse time order (rows frame anchored at the current
    // row) computes every alert's next calm in a single window pass —
    // ONE user_id shuffle + ONE sort, vs the self-join's shuffle + a
    // per-alert aggregate. (ts, event_id) DESC is a TOTAL order, so the
    // frame content — and the min — is bit-stable under ts ties.
    // Integer-second gap; alerts with no calm after them surface NULL.
    Q(
      "q119_next_event_gap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables
          .events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn(
            "next_calm_sec",
            min(when(col("value") < 50.0, col("ts").cast("long"))).over(w)
          )
          .filter(col("value") > 250.0)
          .select(
            col("user_id"),
            col("event_id"),
            col("ts").as("alert_ts"),
            (col("next_calm_sec") - col("ts").cast("long")).as("recovery_sec")
          )
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, alert_ts, recovery_sec FROM (
          SELECT user_id, event_id, ts AS alert_ts, value,
            min(CASE WHEN value < 50e0 THEN CAST(floor(epoch(ts)) AS BIGINT) END)
              OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - CAST(floor(epoch(ts)) AS BIGINT) AS recovery_sec
          FROM events)
        WHERE value > 250e0 ORDER BY user_id, event_id""")
    ),
    // q120: HOPPING (sliding) window aggregation — the window kind the
    // suite didn't yet cover beside tumbling (s03), session (q47) and
    // trailing-RANGE (q103): `window(ts, 2 days, 1 day)` assigns each
    // event to BOTH overlapping 2-day windows (Spark expands rows
    // map-side — slide/size copies per row, here 2 — then one (user,
    // window) shuffle with map-side partial aggregation; never a
    // self-join). Decimal-exact value sums. The oracle mirrors the
    // expansion literally: each event contributes to window starts
    // eday and eday−1 (epoch-day-aligned, as Spark aligns to the epoch
    // in UTC), then the same aggregate.
    Q(
      "q120_hopping_window",
      (s, dir) => {
        Tables
          .events(s, dir)
          .groupBy(col("user_id"), window(col("ts"), "2 days", "1 day").as("w"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value")
          )
          .select(
            col("user_id"),
            graft.ops.TimeCodec.dayInt(col("w.start")).as("window_day"),
            col("n_events"),
            col("sum_value")
          )
          .orderBy("user_id", "window_day")
      },
      Some("""WITH d AS (SELECT user_id,
          CAST(floor(epoch(ts) / 86400) AS BIGINT) AS eday,
          CAST(value AS DECIMAL(18,4)) AS dv
        FROM events),
        x AS (SELECT user_id, eday AS ws, dv FROM d
              UNION ALL SELECT user_id, eday - 1, dv FROM d)
        SELECT user_id,
          CAST(year(DATE '1970-01-01' + CAST(ws AS INTEGER))*10000
             + month(DATE '1970-01-01' + CAST(ws AS INTEGER))*100
             + day(DATE '1970-01-01' + CAST(ws AS INTEGER)) AS BIGINT) AS window_day,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(dv) AS DOUBLE) AS sum_value
        FROM x GROUP BY user_id, ws ORDER BY user_id, window_day""")
    ),
    // XML source round-trip (q124): Spark 4's BUILT-IN XML source (the
    // spark-xml package merged upstream) — parquet → rowTag'd XML →
    // explicit-schema typed read-back, completing the source-format
    // family (parquet / ORC q95 / CSV q94 / JSONL q117 / binaryFile
    // q123). Same fidelity discipline as q94: the census comes FROM the
    // XML read-back, and an order-independent multiset checksum (count +
    // exact DECIMAL sum of xxhash64 over every column, map-only on both
    // sides) compares read-back to original, so a lossy leg (timestamp
    // format, double text, entity escaping) fails the hash. Scale:
    // multiline XML is unsplittable (one task per file) and untyped —
    // the 100 TB rule is ingest once, parquet out; this proves that hop
    // loses nothing.
    Q(
      "q124_xml_roundtrip",
      (s, dir) => {
        import s.implicits._
        val orig = Tables.orders(s, dir)
        val path = graft.sources.XmlSource.stageOrdersXml(s, dir)
        val back = graft.sources.XmlSource.readOrdersXml(s, path, orig.schema)
        def checksum(df: org.apache.spark.sql.DataFrame) = df
          .agg(
            count(lit(1)),
            sum(xxhash64(orig.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))
          )
          .head()
        // ONE pass over the XML read-back: the checksum and the census
        // aggregates ride the same job (multiline XML is unsplittable —
        // a second scan re-parses the whole file single-threaded; r20,
        // guide §2.4). Values are the same aggregates as before.
        val cb = back.agg(
          count(lit(1)),
          sum(xxhash64(orig.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
          countDistinct(col("o_custkey")),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"),
          (year(max(col("o_orderdate"))).cast("long") * 10000 +
            month(max(col("o_orderdate"))).cast("long") * 100 +
            dayofmonth(max(col("o_orderdate"))).cast("long"))
        ).head()
        val co = checksum(orig)
        val matches = co.getLong(0) == cb.getLong(0) && co.getDecimal(1) == cb.getDecimal(1)
        Seq((cb.getLong(0), cb.getLong(2), cb.getDouble(3), cb.getLong(4), matches))
          .toDF("n_rows", "n_cust", "sum_price", "max_day", "checksum_match")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
          CAST(year(max(o_orderdate))*10000 + month(max(o_orderdate))*100 + day(max(o_orderdate)) AS BIGINT) AS max_day,
          TRUE AS checksum_match
        FROM orders ORDER BY n_rows""")
    ),
    // Avro source round-trip (q142): completes the source-format family
    // (parquet / ORC q95 / CSV q94 / JSONL q117 / binaryFile q123 / XML
    // q124) with the Kafka-ecosystem interchange format. No spark-avro
    // datasource ships in this distribution, so the adapter binds the
    // public core Avro Java API directly (sources/AvroSource.scala):
    // explicit StructType→Avro schema translation, timestamp-micros
    // logical type (epoch micros — Spark's own internal representation,
    // so the timestamp leg is bit-exact with no format-string at all),
    // deflate container files one-per-partition written executor-side,
    // and a parallelized DataFileReader read-back under the explicit
    // schema. Same fidelity discipline as q94/q124: the census comes
    // FROM the Avro read-back and the order-independent multiset
    // checksum (count + exact DECIMAL sum of xxhash64 over every column,
    // map-only on both sides) compares read-back to original — a lossy
    // leg fails the hash, not just the row count. Scale: Avro container
    // files are block-compressed and sync-marked (splittable); the
    // file-per-partition layout bounds each read task at one partition.
    Q(
      "q142_avro_roundtrip",
      (s, dir) => {
        val orig = Tables.orders(s, dir)
        val path = graft.sources.AvroSource.stageOrdersAvro(s, dir)
        val back = graft.sources.AvroSource.readAvro(s, path, orig.schema)
        def checksum(df: org.apache.spark.sql.DataFrame) = df
          .agg(
            count(lit(1)),
            sum(xxhash64(orig.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))
          )
          .head()
        // ONE pass over the Avro read-back: checksum + census aggregates
        // in the same job (q124's r20 trim — the read-back was scanned
        // twice). Values are the same aggregates as before.
        val cb = back.agg(
          count(lit(1)),
          sum(xxhash64(orig.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
          countDistinct(col("o_orderkey")),
          countDistinct(col("o_orderstatus")),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"),
          (year(min(col("o_orderdate"))).cast("long") * 10000 +
            month(min(col("o_orderdate"))).cast("long") * 100 +
            dayofmonth(min(col("o_orderdate"))).cast("long"))
        ).head()
        val co = checksum(orig)
        val matches = co.getLong(0) == cb.getLong(0) && co.getDecimal(1) == cb.getDecimal(1)
        locally { import s.implicits._
          Seq((cb.getLong(0), cb.getLong(2), cb.getLong(3), cb.getDouble(4),
            cb.getLong(5), matches))
            .toDF("n_rows", "n_orders", "n_status", "sum_price", "min_day",
              "checksum_match")
        }
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
          CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
          CAST(year(min(o_orderdate))*10000 + month(min(o_orderdate))*100 + day(min(o_orderdate)) AS BIGINT) AS min_day,
          TRUE AS checksum_match
        FROM orders ORDER BY n_rows""")
    ),
    // q143: deletion propagation (right-to-be-forgotten) — the GDPR
    // maintenance op beside q127's FK audit and q109's PII redaction: a
    // deletion REQUEST (a bounded batch of customer keys) must cascade
    // through the FK graph (customer → orders → lineitem) and the
    // publish gate must PROVE the cascade, not assume it. Scale shape:
    // the request keyset broadcasts (deletion batches are
    // request-bounded, never corpus-sized) and every fact table takes
    // ONE broadcast anti-join — fact rows never shuffle; the
    // second-hop keyset (orders of deleted customers) is bounded by
    // request × orders-per-customer, so it broadcasts too. The
    // residual_refs column is an INDEPENDENT semi-join probe of each
    // kept frame against the deleted keyset — the verification is a
    // second lineage, not the complement of the delete — and the
    // oracle pins it to 0 while n_after must equal n_before−n_deleted,
    // so a leaky cascade fails the hash twice.
    Q(
      "q143_deletion_propagation",
      (s, dir) => {
        val customer = Tables.customer(s, dir)
        val orders = Tables.orders(s, dir)
        val lineitem = Tables.lineitem(s, dir)
        // the deletion request: a deterministic ~1% slice of customers
        val delK = customer
          .filter(pmod(col("c_custkey"), lit(97)) === 13)
          .select(col("c_custkey").as("k"))
        val delOrders = orders
          .join(broadcast(delK), col("o_custkey") === col("k"))
          .select(col("o_orderkey").as("ok"))
        def census(
            name: String,
            table: org.apache.spark.sql.DataFrame,
            fk: org.apache.spark.sql.Column,
            keys: org.apache.spark.sql.DataFrame,
            keyCol: String) = {
          val marked = table.join(
            broadcast(keys.withColumn("__del", lit(1))), fk === col(keyCol), "left")
          val counts = marked.agg(
            count(lit(1)).as("n_before"),
            sum(when(col("__del").isNotNull, 1L).otherwise(0L)).as("n_deleted"))
          val kept = table.join(broadcast(keys), fk === col(keyCol), "left_anti")
          val resid = kept
            .join(broadcast(keys), fk === col(keyCol), "left_semi")
            .agg(count(lit(1)).as("residual_refs"))
          val keptN = kept.agg(count(lit(1)).as("n_after"))
          counts
            .crossJoin(broadcast(keptN))
            .crossJoin(broadcast(resid))
            .select(
              lit(name).as("tbl"), col("n_before"), col("n_deleted"),
              col("n_after"), col("residual_refs"),
              (col("n_after") === col("n_before") - col("n_deleted")).as("cascade_ok"))
        }
        census("customer", customer, col("c_custkey"), delK, "k")
          .unionByName(census("orders", orders, col("o_custkey"), delK, "k"))
          .unionByName(census("lineitem", lineitem, col("l_orderkey"), delOrders, "ok"))
          .orderBy("tbl")
      },
      Some("""WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 13),
          delord AS (SELECT o_orderkey AS ok FROM orders
            WHERE o_custkey IN (SELECT k FROM del)),
          c AS (SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_before,
              CAST(count(*) FILTER (c_custkey % 97 = 13) AS BIGINT) AS n_deleted
            FROM customer),
          o AS (SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_before,
              CAST(count(*) FILTER (o_custkey IN (SELECT k FROM del)) AS BIGINT) AS n_deleted
            FROM orders),
          l AS (SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT) AS n_before,
              CAST(count(*) FILTER (l_orderkey IN (SELECT ok FROM delord)) AS BIGINT) AS n_deleted
            FROM lineitem),
          u AS (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
        SELECT tbl, n_before, n_deleted,
          CAST(n_before - n_deleted AS BIGINT) AS n_after,
          CAST(0 AS BIGINT) AS residual_refs, TRUE AS cascade_ok
        FROM u ORDER BY tbl""")
    ),
    // q144: mergeable quantile sketch + exact error audit — completes
    // the sketch triad (q89 distinct-count, q100 frequency/CMS,
    // quantiles here): a fixed-width 512-bin histogram over integer
    // cents whose per-partition partial counts MERGE associatively
    // (partial aggregation collapses each map task to ≤512 cells, so
    // the shuffle carries cells × partitions regardless of row count —
    // the sketch IS the aggregate), and the rank-k quantile estimate
    // reads off the cumulative bins. The audit side computes the TRUE
    // order statistic from the distinct-cents census (domain-bounded:
    // ≤ ~49k cells at any corpus size — the partition-less cum windows
    // run over value-DOMAIN-sized frames, never row-sized) and pins the
    // sketch guarantee in-hash: the true quantile must land INSIDE the
    // estimated bin (err_cents ∈ [0,100)), so a binning or merge bug
    // fails the gate, not a tolerance. All kernels integer (floor-cents
    // v, integer ceil k=(p·n+99)//100, min-bin selection) — bit-exact
    // across engines by construction.
    Q(
      "q144_quantile_sketch",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cents = Tables
          .events(s, dir)
          .select(expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
        val byV = cents.groupBy("v").agg(count(lit(1)).as("cnt"))
        val cumV = byV
          .withColumn(
            "cum",
            sum(col("cnt")).over(
              Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("v"), col("cum"))
        val cumB = byV
          .withColumn("bin", expr("v div 100"))
          .groupBy("bin")
          .agg(sum(col("cnt")).as("cnt"))
          .withColumn(
            "cum",
            sum(col("cnt")).over(
              Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("bin"), col("cum"))
        val tot = cents.agg(count(lit(1)).as("n"))
        val ks = s
          .createDataFrame(Seq(Tuple1(50), Tuple1(90), Tuple1(99)))
          .toDF("p")
          .crossJoin(broadcast(tot))
          .withColumn("k", expr("(p * n + 99) div 100"))
          .select(col("p"), col("k"))
        val est = ks
          .join(broadcast(cumB), col("cum") >= col("k"))
          .groupBy("p", "k")
          .agg(min(col("bin")).as("est_bin"))
        val tru = ks
          .select(col("p").as("tp"), col("k").as("tk"))
          .join(cumV, col("cum") >= col("tk"))
          .groupBy("tp")
          .agg(min(col("v")).as("true_cents"))
        est
          .join(tru, col("p") === col("tp"))
          .select(
            col("p"), col("k"),
            (col("est_bin") * 100L).as("est_lo_cents"),
            col("true_cents"),
            (col("true_cents") - col("est_bin") * 100L).as("err_cents"),
            (expr("true_cents div 100") === col("est_bin")).as("contained"))
          .orderBy("p")
      },
      Some("""WITH c AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
          byv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY v),
          cumv AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM byv),
          hist AS (SELECT v // 100 AS bin, sum(cnt) AS cnt FROM byv GROUP BY 1),
          cumb AS (SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist),
          q AS (SELECT unnest([50, 90, 99]) AS p),
          ks AS (SELECT p, CAST((p * n.n + 99) // 100 AS BIGINT) AS k FROM q, n),
          est AS (SELECT p, k, CAST(min(bin) AS BIGINT) AS est_bin
            FROM ks JOIN cumb ON cum >= ks.k GROUP BY p, k),
          tru AS (SELECT p, CAST(min(v) AS BIGINT) AS true_cents
            FROM ks JOIN cumv ON cum >= ks.k GROUP BY p)
        SELECT est.p, est.k,
          CAST(est_bin * 100 AS BIGINT) AS est_lo_cents,
          true_cents,
          CAST(true_cents - est_bin * 100 AS BIGINT) AS err_cents,
          (true_cents // 100 = est_bin) AS contained
        FROM est JOIN tru ON est.p = tru.p ORDER BY est.p""")
    ),
    // Referential-integrity audit (q127): the pre-publish warehouse gate
    // — every FK edge of the star/snowflake checked in one report:
    // child rows, NULL FKs, orphans (child keys with no parent), and the
    // per-edge ok flag. One LEFT join + one aggregate per edge, never a
    // row-level export: the parent side is reduced to its DISTINCT key
    // column first (the audit must not assume the PK it is auditing is
    // unique), so dimension edges broadcast and even the
    // lineitem→orders edge joins key-against-key — child payloads never
    // shuffle. Orphan/null counts are partial-aggregated map-side after
    // the join; the 7-row report is the only thing that leaves.
    Q(
      "q127_fk_audit",
      (s, dir) => {
        def audit(edge: String, child: org.apache.spark.sql.DataFrame, fk: String,
            parent: org.apache.spark.sql.DataFrame, pk: String) = {
          val p = parent.select(col(pk).as("__pk")).distinct().withColumn("__hit", lit(1))
          child
            .select(col(fk).as("__fk"))
            .join(p, col("__fk") === col("__pk"), "left")
            .agg(
              count(lit(1)).as("n_child"),
              sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
              sum(when(col("__fk").isNotNull && col("__hit").isNull, 1L).otherwise(0L))
                .as("n_orphan")
            )
            .select(
              lit(edge).as("edge"),
              col("n_child"),
              col("n_null_fk"),
              col("n_orphan"),
              (col("n_orphan") === 0L).as("ref_ok")
            )
        }
        val (o, c, l, pt, sp, na, re) = (
          Tables.orders(s, dir), Tables.customer(s, dir), Tables.lineitem(s, dir),
          Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir))
        Seq(
          audit("customer->nation", c, "c_nationkey", na, "n_nationkey"),
          audit("lineitem->orders", l, "l_orderkey", o, "o_orderkey"),
          audit("lineitem->part", l, "l_partkey", pt, "p_partkey"),
          audit("lineitem->supplier", l, "l_suppkey", sp, "s_suppkey"),
          audit("nation->region", na, "n_regionkey", re, "r_regionkey"),
          audit("orders->customer", o, "o_custkey", c, "c_custkey"),
          audit("supplier->nation", sp, "s_nationkey", na, "n_nationkey")
        ).reduce(_.unionAll(_)).orderBy("edge")
      },
      Some {
        val edges = Seq(
          ("customer->nation", "customer", "c_nationkey", "customer", "nation", "n_nationkey"),
          ("lineitem->orders", "lineitem", "l_orderkey", "lineitem", "orders", "o_orderkey"),
          ("lineitem->part", "lineitem", "l_partkey", "lineitem", "part", "p_partkey"),
          ("lineitem->supplier", "lineitem", "l_suppkey", "lineitem", "supplier", "s_suppkey"),
          ("nation->region", "nation", "n_regionkey", "nation", "region", "r_regionkey"),
          ("orders->customer", "orders", "o_custkey", "orders", "customer", "c_custkey"),
          ("supplier->nation", "supplier", "s_nationkey", "supplier", "nation", "n_nationkey")
        )
        val parts = edges.map { case (edge, childT, fk, _, parentT, pk) =>
          s"""SELECT '$edge' AS edge, count(*) AS n_child,
            count(*) FILTER ($fk IS NULL) AS n_null_fk,
            count(*) FILTER ($fk IS NOT NULL AND p.__pk IS NULL) AS n_orphan
          FROM $childT ch LEFT JOIN (SELECT DISTINCT $pk AS __pk FROM $parentT) p
            ON ch.$fk = p.__pk"""
        }
        s"""SELECT edge, CAST(n_child AS BIGINT) AS n_child,
          CAST(n_null_fk AS BIGINT) AS n_null_fk,
          CAST(n_orphan AS BIGINT) AS n_orphan,
          (n_orphan = 0) AS ref_ok
        FROM (${parts.mkString(" UNION ALL ")}) ORDER BY edge"""
      }
    ),
    // Dense surrogate-ID assignment (q128): every training corpus needs
    // stable dense ids (embedding-table rows, shard ordinals) — and the
    // obvious `row_number() OVER (ORDER BY key)` is the classic 100 TB
    // SCALE-KILLER: an empty partition spec plans Exchange
    // SinglePartition, funneling the whole corpus through one task. The
    // scale-correct shape is the offset-sum: range-partition by the key,
    // sort within partitions, count each partition (one tiny job),
    // prefix-sum the counts driver-side (partitions-bounded), then
    // assign id = partition offset + local ordinal map-side — exactly
    // what `RDD.zipWithIndex` implements, the one genuinely
    // per-partition-imperative step (a declared RDD drop-down). The
    // result equals the global rank REGARDLESS of where the sampled
    // range boundaries land (the key is unique and partitions are
    // ordered), so the output is deterministic even though the
    // partitioner's sampling is not — hash-checked against the
    // row_number oracle.
    Q(
      "q128_dense_ids",
      (s, dir) => {
        import s.implicits._
        val parted = Tables
          .documents(s, dir)
          .select(col("doc_id"), col("lang"))
          .repartitionByRange(col("doc_id"))
          .sortWithinPartitions("doc_id")
          .as[(Long, String)]
        parted.rdd
          .zipWithIndex()
          .map { case ((d, l), i) => (d, l, i) }
          .toDF("doc_id", "lang", "dense_id")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
          CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
        FROM documents ORDER BY doc_id""")
    ),
    // q131: compaction / bin-packing planner — the table-maintenance op
    // every lake at 100 TB runs nightly (Delta OPTIMIZE / Iceberg
    // rewrite_data_files): assign small files to target-sized output
    // bins and report the rewrite plan. Files are packed PER PARTITION
    // (here: per source — compaction never merges across partition
    // dirs), in stable id order, bin = exclusive-prefix-sum div target
    // — a pure window computation, deterministic, and crucially
    // PLANNER-SCALE: the job touches file METADATA (id, size), never
    // file contents, so the one shuffle is on the partition key and the
    // window runs per-partition — no global sort, no single-partition
    // funnel. The div-packing bound: every bin except a partition's
    // last holds ≥ target − max_file_size bytes, the same guarantee the
    // production planners give.
    Q(
      "q131_compaction_plan",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window
          .partitionBy(col("source"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables
          .documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("sz"))
          .withColumn("cum", sum(col("sz")).over(w))
          .withColumn("bin", expr("(cum - sz) div 4000"))
          .groupBy(col("source"), col("bin"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(col("sz")).as("bytes"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id")
          )
          .orderBy("source", "bin")
      },
      Some("""WITH f AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS sz,
            CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM documents)
        SELECT source, (cum - sz) // 4000 AS bin,
          CAST(count(*) AS BIGINT) AS n_files,
          CAST(sum(sz) AS BIGINT) AS bytes,
          min(doc_id) AS first_id, max(doc_id) AS last_id
        FROM f GROUP BY source, bin ORDER BY source, bin""")
    ),
    // q132: interval-interval OVERLAP join — the join shape q50's
    // point-in-range can't express: both sides are SPANS (per-user
    // daily activity intervals [first ts, last ts]) and a pair matches
    // when the spans intersect (a.lo ≤ b.hi AND b.lo ≤ a.hi) — the
    // co-activity / conflict-detection primitive. Scale shape is BUCKET
    // DECOMPOSITION: the equi-join key is the coarse time bucket (day —
    // intervals here cannot span it by construction), so candidate
    // pairs are per-bucket bounded (active users per day), never
    // corpus²; the overlap inequality then prunes within the bucket.
    // Self-join deduped by user_id order; per-day rollup leaves only a
    // calendar-sized report.
    Q(
      "q132_interval_overlap",
      (s, dir) => {
        val iv = Tables
          .events(s, dir)
          .groupBy(
            col("user_id"),
            graft.ops.TimeCodec.dayInt(col("ts")).as("day")
          )
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        iv.as("a")
          .join(
            iv.as("b"),
            col("a.day") === col("b.day") &&
              col("a.user_id") < col("b.user_id") &&
              col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi")
          )
          .groupBy(col("a.day").as("day"))
          .agg(count(lit(1)).as("n_overlap_pairs"))
          .orderBy("day")
      },
      Some("""WITH iv AS (SELECT user_id,
            CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS BIGINT) AS day,
            min(ts) AS lo, max(ts) AS hi
          FROM events GROUP BY user_id, 2)
        SELECT a.day, CAST(count(*) AS BIGINT) AS n_overlap_pairs
        FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
          AND a.lo <= b.hi AND b.lo <= a.hi
        GROUP BY a.day ORDER BY a.day""")
    ),
    // q133: column-statistics manifest — the ANALYZE TABLE / file-skipping
    // stats collection every lakehouse writer maintains (per-partition
    // min/max/null-count/NDV are what q57's PushedFilters and s10/s19's
    // pruning consult): one pass over the table computing, per partition
    // dir (source), the stats for each data column. Scale shape: ONE
    // grouped aggregate — min/max/null counts combine map-side; the
    // exact NDVs share a single Expand-based multi-distinct (q91's
    // machinery, one shuffle carrying only (source, column-value)
    // tuples). Exact NDV (not approx_count_distinct) keeps the oracle
    // bit-exact; the approx swap is a one-word change whose error bound
    // q89 already audits.
    Q(
      "q133_stats_manifest",
      (s, dir) => {
        Tables
          .documents(s, dir)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_rows"),
            min(col("doc_id")).as("doc_id_min"),
            max(col("doc_id")).as("doc_id_max"),
            countDistinct(col("doc_id")).as("doc_id_ndv"),
            min(col("n_chars")).cast("long").as("n_chars_min"),
            max(col("n_chars")).cast("long").as("n_chars_max"),
            countDistinct(col("n_chars")).as("n_chars_ndv"),
            sum(when(col("lang").isNull, 1L).otherwise(0L)).as("lang_nulls"),
            countDistinct(col("lang")).as("lang_ndv"),
            min(col("lang")).as("lang_min"),
            max(col("lang")).as("lang_max")
          )
          .orderBy("source")
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
          min(doc_id) AS doc_id_min, max(doc_id) AS doc_id_max,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_id_ndv,
          CAST(min(n_chars) AS BIGINT) AS n_chars_min,
          CAST(max(n_chars) AS BIGINT) AS n_chars_max,
          CAST(count(DISTINCT n_chars) AS BIGINT) AS n_chars_ndv,
          CAST(count(*) FILTER (lang IS NULL) AS BIGINT) AS lang_nulls,
          CAST(count(DISTINCT lang) AS BIGINT) AS lang_ndv,
          min(lang) AS lang_min, max(lang) AS lang_max
        FROM documents GROUP BY source ORDER BY source""")
    ),
    // q134: incremental aggregate maintenance (IVM) — the materialized-
    // view refresh algebra: a maintained aggregate absorbs a delta batch
    // by MERGING PARTIAL STATES (counts add, DECIMAL sums add, min/max
    // combine), never re-reading the base — at 100 TB the delta is a
    // day's partition and the refresh cost is |delta| + |view|, not
    // |history|. The algebra is exactly Spark's own partial-aggregation
    // contract (the map-side combine every groupBy already does),
    // applied ACROSS batches instead of across partitions; avg stays
    // mergeable because the view stores (sum, count), never the ratio.
    // The demo computes the maintained view (base agg ⊕ delta agg) AND
    // the from-scratch aggregate, folds their equality into the row, and
    // exports the merged values — DECIMAL sums make the merge bit-exact,
    // so ivm_ok must be TRUE on every key and the oracle (a from-scratch
    // aggregate) hash-matches the INCREMENTALLY maintained numbers.
    Q(
      "q134_ivm_agg",
      (s, dir) => {
        val cutoff = lit("2024-06-01").cast("timestamp")
        val li = Tables.lineitem(s, dir)
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("l_returnflag"))
            .agg(
              count(lit(1)).as("n"),
              sum(col("l_quantity").cast("decimal(28,6)")).as("sq"),
              min(col("l_shipdate")).as("mn"),
              max(col("l_shipdate")).as("mx")
            )
        val merged = partial(li.filter(col("l_shipdate") < cutoff))
          .unionAll(partial(li.filter(col("l_shipdate") >= cutoff)))
          .groupBy(col("l_returnflag"))
          .agg(
            sum(col("n")).as("n_rows"),
            sum(col("sq")).as("sum_qty_dec"),
            min(col("mn")).as("min_ship"),
            max(col("mx")).as("max_ship")
          )
        val full = partial(li)
          .select(
            col("l_returnflag"),
            col("n").as("f_n"), col("sq").as("f_sq"),
            col("mn").as("f_mn"), col("mx").as("f_mx")
          )
        merged
          .join(full, "l_returnflag")
          .select(
            col("l_returnflag"),
            col("n_rows"),
            col("sum_qty_dec").cast("double").as("sum_qty"),
            graft.ops.TimeCodec.dayInt(col("min_ship")).as("min_ship_day"),
            graft.ops.TimeCodec.dayInt(col("max_ship")).as("max_ship_day"),
            (col("n_rows") === col("f_n") && col("sum_qty_dec") === col("f_sq") &&
              col("min_ship") === col("f_mn") && col("max_ship") === col("f_mx"))
              .as("ivm_ok")
          )
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
          CAST(year(min(l_shipdate))*10000 + month(min(l_shipdate))*100
            + day(min(l_shipdate)) AS BIGINT) AS min_ship_day,
          CAST(year(max(l_shipdate))*10000 + month(max(l_shipdate))*100
            + day(max(l_shipdate)) AS BIGINT) AS max_ship_day,
          TRUE AS ivm_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),
    // q135: LATERAL correlated subquery in FROM — the remaining join
    // SURFACE after the shape families (inner/outer/semi/anti/as-of/
    // range/overlap): per-group top-k expressed as a correlated
    // per-row subquery with its own ORDER BY + LIMIT, the form ORMs
    // and hand-written analyst SQL produce. Catalyst DECORRELATES it
    // (DecorrelateInnerQuery) into the same rank-window shape q55
    // declares directly — pinned: the executed plan contains a Window,
    // no nested-loop join and no per-group re-scan, so the "run a
    // subquery per row" surface costs one shuffle at any scale,
    // exactly like the window form a user would hand-optimize to.
    Q(
      "q135_lateral_topk",
      (s, dir) =>
        s.sql(s"""
          SELECT g.source, t.doc_id, t.n_chars
          FROM (SELECT DISTINCT source FROM parquet.`$dir/documents.parquet`) g,
          LATERAL (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
            FROM parquet.`$dir/documents.parquet` d
            WHERE d.source = g.source
            ORDER BY n_chars DESC, doc_id
            LIMIT 3
          ) t
          ORDER BY g.source, t.n_chars DESC, t.doc_id"""),
      Some("""SELECT g.source, t.doc_id, t.n_chars
        FROM (SELECT DISTINCT source FROM documents) g,
        LATERAL (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
          FROM documents d
          WHERE d.source = g.source
          ORDER BY n_chars DESC, doc_id
          LIMIT 3
        ) t
        ORDER BY g.source, t.n_chars DESC, t.doc_id""")
    ),
    // q138: k-anonymity audit — the privacy gate beside q109's PII
    // redaction: before publishing a dataset, every quasi-identifier
    // equivalence class (here (nation, market segment)) must hold at
    // least k individuals, or those rows re-identify. The report is the
    // per-class census with the k-5 verdict and the suppression cost
    // (rows that must drop or generalize to publish). Scale shape: one
    // QI-keyed count shuffle with map-side partials — classes bounded by
    // the QI domain product, never row count; the global suppression
    // total rides a broadcast-size margin join back onto the classes.
    Q(
      "q138_k_anonymity",
      (s, dir) => {
        val k = 5L
        val classes = Tables
          .customer(s, dir)
          .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("class_size"))
        val supp = classes
          .agg(
            sum(when(col("class_size") < k, col("class_size")).otherwise(0L))
              .as("suppressed_rows"),
            count(lit(1)).as("n_classes")
          )
        classes
          .crossJoin(broadcast(supp))
          .select(
            col("nationkey"), col("c_mktsegment"), col("class_size"),
            (col("class_size") >= k).as("k5_ok"),
            col("suppressed_rows"), col("n_classes")
          )
          .orderBy("nationkey", "c_mktsegment")
      },
      Some("""WITH cls AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
            c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
          FROM customer GROUP BY 1, 2),
        s AS (SELECT CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
              AS BIGINT) AS suppressed_rows,
            CAST(count(*) AS BIGINT) AS n_classes FROM cls)
        SELECT nationkey, c_mktsegment, class_size,
          (class_size >= 5) AS k5_ok, s.suppressed_rows, s.n_classes
        FROM cls, s ORDER BY nationkey, c_mktsegment""")
    ),
    // q140: Benford first-digit audit — the classic fabricated-numbers
    // gate on a money column: observed first-digit counts of
    // o_totalprice against Benford's expected distribution, per-digit
    // deviation in integer arithmetic. Engine-portable digit
    // extraction: first char of the BIGINT cents value via floor(p*100)
    // (floor is IEEE-identical on both sides, where a double→int CAST
    // rounds in DuckDB but truncates in Spark — the q119 trap), and the
    // Benford expectations are integer basis-point LITERALS (3010 …
    // 458), never runtime log10 — transcendental libm calls are the one
    // thing two engines won't reproduce bit-for-bit. One 9-group
    // aggregate with map-side partials; the synthetic uniform-ish
    // fixture legitimately FAILS Benford (big deviations) — the audit
    // reports, it does not assert.
    Q(
      "q140_benford_audit",
      (s, dir) => {
        val bp = Map(1 -> 3010L, 2 -> 1761L, 3 -> 1249L, 4 -> 969L,
          5 -> 792L, 6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)
        val expCol = (1 to 9).foldLeft(lit(0L)) { (acc, d) =>
          when(col("digit") === d.toLong, lit(bp(d))).otherwise(acc)
        }
        val digits = Tables
          .orders(s, dir)
          .select(
            substring(floor(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
              .cast("long").as("digit")
          )
          .filter(col("digit") >= 1L)
        val n = digits.agg(count(lit(1)).as("n_total"))
        digits
          .groupBy("digit")
          .agg(count(lit(1)).as("observed"))
          .crossJoin(broadcast(n))
          .select(
            col("digit"), col("observed"), col("n_total"),
            expCol.as("benford_bp"),
            expr("(observed * 10000) div n_total").as("observed_bp")
          )
          .withColumn("dev_bp", abs(col("observed_bp") - col("benford_bp")))
          .orderBy("digit")
      },
      Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM orders),
        g AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d
          WHERE digit >= 1 GROUP BY digit),
        t AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM g),
        e AS (SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969),
            (5, 792), (6, 669), (7, 580), (8, 512), (9, 458)) AS v(digit, bp))
        SELECT g.digit, g.observed, t.n_total,
          CAST(e.bp AS BIGINT) AS benford_bp,
          (g.observed * 10000) // t.n_total AS observed_bp,
          abs((g.observed * 10000) // t.n_total - e.bp) AS dev_bp
        FROM g, t JOIN e ON g.digit = e.digit
        ORDER BY g.digit""")
    ),
    // q145: MAD robust outlier audit — the anomaly gate beside q136's
    // winsorized stats and q118's drift test: per event_type, the
    // median and the Median Absolute Deviation over integer cents, and
    // the count of rows beyond the 3×MAD fence. Scale shape: the same
    // domain-bounded census discipline as q144 — rows collapse map-side
    // to (type, cents) cells (≤ ~50k cells per type at ANY corpus
    // size), the cumulative windows run over DOMAIN-sized frames
    // partitioned by type (never row-sized), and the two order
    // statistics (median, MAD) are rank read-offs on those censuses.
    // The 5-row medians broadcast back for the deviation census and
    // the fence count, so event rows shuffle exactly once (the census
    // groupBy). All kernels integer (floor-cents, k=(n+1)//2 lower
    // median, 3×MAD fence, basis-point rate) — bit-exact by
    // construction.
    Q(
      "q145_mad_outliers",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val c = Tables
          .events(s, dir)
          .select(
            col("event_type").as("et"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
        // the census is the ONLY corpus-touching stage; materialize it
        // once (domain-bounded: ≤ ~50k cells per type at any corpus
        // size) so the n/median/deviation/fence lineages all ride the
        // cached cells instead of re-scanning events
        val byv = c.groupBy("et", "v").agg(count(lit(1)).as("cnt")).ckpt()
        val n = byv.groupBy("et").agg(sum("cnt").as("n"))
        val cumv = byv.withColumn(
          "cum",
          sum(col("cnt")).over(
            Window.partitionBy("et").orderBy("v")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val med = cumv
          .join(broadcast(n.select(col("et").as("net"), col("n"))), col("et") === col("net"))
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy("et")
          .agg(min(col("v")).as("med"))
        val dev = byv
          .join(broadcast(med.select(col("et").as("met"), col("med"))), col("et") === col("met"))
          .groupBy(col("et"), abs(col("v") - col("med")).as("d"))
          .agg(sum("cnt").as("cnt"))
        val cumd = dev.withColumn(
          "cum",
          sum(col("cnt")).over(
            Window.partitionBy("et").orderBy("d")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val mad = cumd
          .join(broadcast(n.select(col("et").as("net"), col("n"))), col("et") === col("net"))
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy("et")
          .agg(min(col("d")).as("mad"))
        val outl = dev
          .join(broadcast(mad.select(col("et").as("oet"), col("mad"))), col("et") === col("oet"))
          .groupBy("et")
          .agg(
            coalesce(sum(when(col("d") > col("mad") * 3L, col("cnt"))), lit(0L))
              .as("n_outliers"))
        n.join(med.withColumnRenamed("et", "e2"), col("et") === col("e2"))
          .join(mad.withColumnRenamed("et", "e3"), col("et") === col("e3"))
          .join(outl.withColumnRenamed("et", "e4"), col("et") === col("e4"))
          .select(
            col("et").as("event_type"), col("n"),
            col("med").as("med_cents"), col("mad").as("mad_cents"),
            col("n_outliers"),
            expr("(n_outliers * 10000) div n").as("outlier_bp"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type AS et, CAST(floor(value * 100) AS BIGINT) AS v
            FROM events),
          byv AS (SELECT et, v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY et, v),
          n AS (SELECT et, CAST(sum(cnt) AS BIGINT) AS n FROM byv GROUP BY et),
          cumv AS (SELECT et, v, CAST(sum(cnt) OVER (PARTITION BY et ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM byv),
          med AS (SELECT cumv.et, CAST(min(v) AS BIGINT) AS med
            FROM cumv JOIN n ON n.et = cumv.et AND cum >= (n.n + 1) // 2
            GROUP BY cumv.et),
          dev AS (SELECT byv.et, abs(v - med) AS d, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM byv JOIN med ON byv.et = med.et GROUP BY byv.et, abs(v - med)),
          cumd AS (SELECT et, d, CAST(sum(cnt) OVER (PARTITION BY et ORDER BY d
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM dev),
          mad AS (SELECT cumd.et, CAST(min(d) AS BIGINT) AS mad
            FROM cumd JOIN n ON n.et = cumd.et AND cum >= (n.n + 1) // 2
            GROUP BY cumd.et),
          outl AS (SELECT dev.et,
              CAST(coalesce(sum(cnt) FILTER (d > 3 * mad), 0) AS BIGINT) AS n_outliers
            FROM dev JOIN mad ON dev.et = mad.et GROUP BY dev.et)
        SELECT n.et AS event_type, n.n AS n, med.med AS med_cents,
          mad.mad AS mad_cents, outl.n_outliers,
          (outl.n_outliers * 10000) // n.n AS outlier_bp
        FROM n JOIN med ON n.et = med.et JOIN mad ON n.et = mad.et
          JOIN outl ON n.et = outl.et
        ORDER BY event_type""")
    ),
    // q146: exponentially time-decayed engagement score — the
    // freshness-weighted ranking a curation pipeline uses to prioritize
    // recent activity (recency-weighted sampling, decayed popularity).
    // The decay is EXACT integer arithmetic, not float exp(): with a
    // one-day half-life, an event aged a days weighs 2^(40−a) on a
    // 2^40 fixed-point scale (shiftleft both engines define
    // identically), truncated to 0 beyond age 40 — the truncation is
    // the documented sketch bound (weights past 40 half-lives are
    // < 1e-12 of the scale and cannot affect any ranking), and the cap
    // also bounds the sum: n·2^40 stays inside int64 up to ~8M rows
    // per user. Scale shape: one map-side-combined groupBy(user) —
    // the weight is computed per-row in the project (codegen'd CASE +
    // shift), partials merge associatively, and the top-20 is
    // TakeOrdered (never a global sort). Tie-break on user_id makes
    // the 20-row cut deterministic.
    Q(
      "q146_decayed_engagement",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
        val maxd = e.agg(max(col("d")).as("maxd"))
        e.crossJoin(broadcast(maxd))
          .withColumn("age", datediff(col("maxd"), col("d")))
          .withColumn(
            "w",
            expr(
              "CASE WHEN age <= 40 THEN shiftleft(CAST(1 AS BIGINT), CAST(40 - age AS INT)) ELSE CAST(0 AS BIGINT) END"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("w")).as("score_scaled"))
          .orderBy(desc("score_scaled"), asc("user_id"))
          .limit(20)
      },
      Some("""WITH m AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
          a AS (SELECT user_id, date_diff('day', CAST(ts AS DATE), m.maxd) AS age
            FROM events, m),
          w AS (SELECT user_id,
              CASE WHEN age <= 40 THEN CAST(1 AS BIGINT) << (40 - age)
                   ELSE CAST(0 AS BIGINT) END AS w
            FROM a)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(w) AS BIGINT) AS score_scaled
        FROM w GROUP BY user_id
        ORDER BY score_scaled DESC, user_id LIMIT 20""")
    ),
    // q147: join-skew diagnostic + salt-factor advisor — the PLANNING
    // op that feeds s09's salted join: before running a 100 TB join,
    // measure the key distribution of each hot edge and recommend the
    // salt. Per edge: row count, distinct keys, the heaviest key's
    // count, mean key count (×100 fixed-point), the skew ratio
    // max/mean (×100), and the recommended salt factor = heaviest key
    // split into ~n/128 target-task-sized slices, capped at 32 (the
    // executor-width bound — salting beyond cluster width only adds
    // shuffle). Scale shape: ONE map-side-combined groupBy(key) per
    // edge, then a 1-row reduce over key counts — key cardinality is
    // the only thing that ever shuffles; the advisor output is 3 rows.
    // All kernels integer ceil-divisions; no doubles anywhere.
    Q(
      "q147_skew_advisor",
      (s, dir) => {
        def audit(edge: String, df: org.apache.spark.sql.DataFrame, key: String) =
          df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("c"))
            .agg(sum("c").as("n"), count(lit(1)).as("nk"), max("c").as("max_c"))
            .select(
              lit(edge).as("edge"),
              col("n").as("n_rows"),
              col("nk").as("n_keys"),
              col("max_c").as("max_cnt"),
              expr("(n * 100) div nk").as("avg_cnt_x100"),
              expr("(max_c * 100 * nk) div n").as("skew_x100"),
              expr("""least(CAST(32 AS BIGINT),
                (max_c + greatest(CAST(1 AS BIGINT), (n + 127) div 128) - 1)
                  div greatest(CAST(1 AS BIGINT), (n + 127) div 128))""").as("salt_factor"))
        audit("events.user_id", Tables.events(s, dir), "user_id")
          .unionByName(audit("lineitem.l_partkey", Tables.lineitem(s, dir), "l_partkey"))
          .unionByName(audit("orders.o_custkey", Tables.orders(s, dir), "o_custkey"))
          .orderBy("edge")
      },
      Some("""WITH e1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id),
          e2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey),
          e3 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY o_custkey),
          s1 AS (SELECT 'events.user_id' AS edge, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS nk, CAST(max(c) AS BIGINT) AS max_c FROM e1),
          s2 AS (SELECT 'lineitem.l_partkey' AS edge, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS nk, CAST(max(c) AS BIGINT) AS max_c FROM e2),
          s3 AS (SELECT 'orders.o_custkey' AS edge, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS nk, CAST(max(c) AS BIGINT) AS max_c FROM e3),
          u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        SELECT edge, n AS n_rows, nk AS n_keys, max_c AS max_cnt,
          (n * 100) // nk AS avg_cnt_x100,
          (max_c * 100 * nk) // n AS skew_x100,
          least(CAST(32 AS BIGINT),
            (max_c + greatest(CAST(1 AS BIGINT), (n + 127) // 128) - 1)
              // greatest(CAST(1 AS BIGINT), (n + 127) // 128)) AS salt_factor
        FROM u ORDER BY edge""")
    ),
    // q148: snapshot manifest diff — the incremental-ingest planner a
    // 100 TB pipeline runs before every refresh: compare the current
    // table against the previous snapshot's manifest PER
    // PARTITION-BUCKET (here: order-month, the natural time layout)
    // and emit how many buckets are new / changed / unchanged plus the
    // rows the incremental job must reprocess (changed + new buckets
    // only — the point of the manifest is that unchanged buckets are
    // skipped without reading them). The per-bucket digest is an
    // order-insensitive SUM of a modular row fingerprint
    // ((key·1000003 + cents·31 + custkey) mod 1e9+7 — commutative, so
    // partials merge associatively and the digest is layout-
    // independent; the modulus keeps bucket sums inside int64 at any
    // corpus size). Scale shape: ONE scan with conditional aggregates
    // (current vs snapshot counts+digests per bucket in the same
    // map-side partial pass — the snapshot predicate is a filter
    // inside the agg, not a second scan), then a bucket-domain-sized
    // (~80 cells) status classification and a 3-row report.
    Q(
      "q148_manifest_diff",
      (s, dir) => {
        val cutoff = lit("2001-07-15").cast("date")
        val o = Tables
          .orders(s, dir)
          .select(
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("bucket"),
            expr("""(o_orderkey * 1000003
              + CAST(floor(o_totalprice * 100) AS BIGINT) * 31
              + o_custkey) % 1000000007""").as("fp"),
            col("o_orderdate").cast("date").as("d"))
        val m = o
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("cnt_b"),
            sum(col("fp")).as("dig_b"),
            sum(when(col("d") < cutoff, 1L).otherwise(0L)).as("cnt_a"),
            coalesce(sum(when(col("d") < cutoff, col("fp"))), lit(0L)).as("dig_a"))
          .withColumn(
            "status",
            when(col("cnt_a") === 0L, lit("new"))
              .when(col("cnt_a") === col("cnt_b") && col("dig_a") === col("dig_b"),
                lit("unchanged"))
              .otherwise(lit("changed")))
        m.groupBy("status")
          .agg(
            count(lit(1)).as("n_buckets"),
            sum(col("cnt_b")).as("rows_current"),
            sum(when(col("status") =!= "unchanged", col("cnt_b")).otherwise(0L))
              .as("rows_to_process"))
          .orderBy("status")
      },
      Some("""WITH o AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS bucket,
            (o_orderkey * 1000003
              + CAST(floor(o_totalprice * 100) AS BIGINT) * 31
              + o_custkey) % 1000000007 AS fp,
            CAST(o_orderdate AS DATE) AS d
          FROM orders),
        m AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_b,
            CAST(sum(fp) AS BIGINT) AS dig_b,
            CAST(count(*) FILTER (d < DATE '2001-07-15') AS BIGINT) AS cnt_a,
            CAST(coalesce(sum(fp) FILTER (d < DATE '2001-07-15'), 0) AS BIGINT) AS dig_a
          FROM o GROUP BY bucket),
        st AS (SELECT *, CASE WHEN cnt_a = 0 THEN 'new'
            WHEN cnt_a = cnt_b AND dig_a = dig_b THEN 'unchanged'
            ELSE 'changed' END AS status FROM m)
        SELECT status, CAST(count(*) AS BIGINT) AS n_buckets,
          CAST(sum(cnt_b) AS BIGINT) AS rows_current,
          CAST(sum(CASE WHEN status <> 'unchanged' THEN cnt_b ELSE 0 END) AS BIGINT)
            AS rows_to_process
        FROM st GROUP BY status ORDER BY status""")
    ),
    // q149: zone-map pruning probe — the file-skipping arithmetic that
    // makes time-range queries cheap on a time-partitioned 100 TB
    // table: build the per-bucket (ship-month) min/max zone map for
    // the predicate column, count how many buckets a 6-week date range
    // can skip, and PROVE the skip is lossless (rows matched inside
    // pruned buckets must be zero — `prune_ok` folds that into the
    // hash, so a wrong zone bound fails the gate, not a dashboard).
    // Scale shape: ONE scan computes the zone map AND the in-range
    // counts in the same map-side partial aggregate (min/max/count
    // per bucket — exactly the stats a parquet footer carries), then
    // everything downstream is bucket-domain-sized (~80 cells). This
    // is q115's z-order story operationalized: the probe measures the
    // skip rate the layout actually delivers.
    Q(
      "q149_zonemap_prune",
      (s, dir) => {
        val lo = lit("1996-03-10").cast("date")
        val hi = lit("1996-04-20").cast("date")
        val zm = Tables
          .lineitem(s, dir)
          .select(
            (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("bucket"),
            col("l_shipdate").cast("date").as("d"))
          .groupBy("bucket")
          .agg(
            min(col("d")).as("zmin"),
            max(col("d")).as("zmax"),
            count(lit(1)).as("n_rows"),
            sum(when(col("d").between(lo, hi), 1L).otherwise(0L)).as("n_match"))
          .withColumn("candidate", col("zmax") >= lo && col("zmin") <= hi)
        zm.agg(
            count(lit(1)).as("n_buckets"),
            sum(when(col("candidate"), 1L).otherwise(0L)).as("n_candidate"),
            sum(when(!col("candidate"), 1L).otherwise(0L)).as("n_pruned"),
            sum(col("n_match")).as("rows_matched"),
            sum(when(!col("candidate"), col("n_match")).otherwise(0L)).as("leaked"))
          .select(
            col("n_buckets"), col("n_candidate"), col("n_pruned"),
            expr("(n_pruned * 10000) div n_buckets").as("pruned_bp"),
            col("rows_matched"),
            (col("leaked") === 0L).as("prune_ok"))
      },
      Some("""WITH z AS (SELECT year(l_shipdate) * 100 + month(l_shipdate) AS bucket,
            min(CAST(l_shipdate AS DATE)) AS zmin, max(CAST(l_shipdate AS DATE)) AS zmax,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) FILTER (CAST(l_shipdate AS DATE)
              BETWEEN DATE '1996-03-10' AND DATE '1996-04-20') AS BIGINT) AS n_match
          FROM lineitem GROUP BY 1),
        c AS (SELECT *, (zmax >= DATE '1996-03-10' AND zmin <= DATE '1996-04-20')
            AS candidate FROM z)
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
          CAST(count(*) FILTER (candidate) AS BIGINT) AS n_candidate,
          CAST(count(*) FILTER (NOT candidate) AS BIGINT) AS n_pruned,
          (CAST(count(*) FILTER (NOT candidate) AS BIGINT) * 10000)
            // CAST(count(*) AS BIGINT) AS pruned_bp,
          CAST(sum(n_match) AS BIGINT) AS rows_matched,
          (CAST(coalesce(sum(n_match) FILTER (NOT candidate), 0) AS BIGINT) = 0)
            AS prune_ok
        FROM c ORDER BY n_buckets""")
    ),
    // q150: sessionized first-touch attribution — the conversion-rate
    // report beside q47's session windows and q112's funnel: sessions
    // are 30-minute-gap groups per user, the session's CHANNEL is the
    // event type of its first event (first-touch attribution), and a
    // session converts if it contains a purchase. Scale shape: ONE
    // user-keyed shuffle — the gap flag (lag) and the running session
    // counter share a single WindowExec (same partition/order spec),
    // then the per-session reduce (min_by for the first-touch channel
    // — (user, ts) pairs are unique in this table, so the pick is
    // deterministic) and the per-channel report are ordinary two-phase
    // aggregates. Sessions-per-user is time-bounded, so every frame
    // after the window pass is far smaller than the input.
    Q(
      "q150_session_attribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts")
        val sess = Tables
          .events(s, dir)
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn(
            "new_s",
            when(
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
                1800L * 1000000L,
              1L).otherwise(lit(0L)))
          .withColumn(
            "new_s",
            when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(col("new_s")))
          .withColumn(
            "sess",
            sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sess
          .groupBy("user_id", "sess")
          .agg(
            min_by(col("event_type"), col("ts")).as("channel"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_sessions"), sum(col("conv")).as("n_converted"))
          .withColumn("conv_bp", expr("(n_converted * 10000) div n_sessions"))
          .orderBy("channel")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_type,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
          FROM events),
        se AS (SELECT user_id, ts, event_type,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sess
          FROM e),
        g AS (SELECT user_id, sess, arg_min(event_type, ts) AS channel,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM se GROUP BY user_id, sess)
        SELECT channel, CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(sum(conv) AS BIGINT) AS n_converted,
          (CAST(sum(conv) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT) AS conv_bp
        FROM g GROUP BY channel ORDER BY channel""")
    ),
    // q153: equi-depth histogram via sketch-guided refinement — the
    // optimizer-statistics builder beside q144's equi-width sketch:
    // 16 buckets of ~n/16 rows each over order-price cents. The
    // SCALABLE path never runs a value-domain window over the whole
    // census: boundary ranks are located in the COARSE 1000-cent bin
    // histogram first (bounded cells), and the exact boundary value is
    // refined only INSIDE each boundary's bin (per-bin censuses ≤1000
    // cells, windowed PARTITION BY boundary). The oracle computes the
    // same boundaries DIRECTLY from the full census — so the hash
    // proves sketch-refinement ≡ direct order statistics, the claim
    // that lets a 1000-executor run build optimizer stats without a
    // global sort. Bucket counts/extents then come from one broadcast
    // of the 15 boundary values onto the census. All kernels integer
    // (ceil ranks, min-satisfying read-offs).
    Q(
      "q153_equidepth_histogram",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // census materialized once (domain-bounded distinct-cents cells)
        // — totals, coarse bins, refinement and bucket assignment all
        // ride the cached frame; orders is scanned exactly once
        val byv = Tables
          .orders(s, dir)
          .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"))
          .groupBy("v")
          .agg(count(lit(1)).as("cnt"))
          .ckpt()
        val tot = byv.agg(sum("cnt").as("n"))
        val ks = s
          .createDataFrame((1 to 15).map(Tuple1(_)))
          .toDF("i")
          .crossJoin(broadcast(tot))
          .select(
            col("i").cast("long").as("i"),
            expr("(i * n + 15) div 16").as("k"))
        // coarse pass: locate each boundary's 1000-cent bin
        val binh = byv
          .groupBy(expr("v div 1000").as("bin"))
          .agg(sum("cnt").as("bcnt"))
          .withColumn(
            "bcum",
            sum(col("bcnt")).over(
              Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // min_by picks the located (min) bin's cum-before in the same
        // reduce — no second pass over the coarse histogram
        val before = ks
          .join(broadcast(binh), col("bcum") >= col("k"))
          .groupBy("i", "k")
          .agg(
            min(col("bin")).as("bb"),
            min_by(col("bcum") - col("bcnt"), col("bin")).as("cb"))
        // refine inside the boundary bin only (≤1000 cells per boundary)
        val bounds = before
          .join(byv.withColumn("vbin", expr("v div 1000")), col("vbin") === col("bb"))
          .withColumn(
            "icum",
            sum(col("cnt")).over(
              Window.partitionBy("i").orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cb") + col("icum") >= col("k"))
          .groupBy("i")
          .agg(min(col("v")).as("bv"))
        val bvList = bounds.agg(sort_array(collect_list(col("bv"))).as("bvs"))
        byv
          .crossJoin(broadcast(bvList))
          .withColumn(
            "bucket",
            lit(1L) + expr("aggregate(bvs, CAST(0 AS BIGINT), (a, b) -> a + CASE WHEN v > b THEN 1 ELSE 0 END)"))
          .groupBy("bucket")
          .agg(
            sum(col("cnt")).as("n_rows"),
            min(col("v")).as("min_cents"),
            max(col("v")).as("max_cents"))
          .crossJoin(broadcast(tot))
          .withColumn("dev_bp", expr("abs(n_rows * 16 - n) * 10000 div n"))
          .select(col("bucket"), col("n_rows"), col("min_cents"), col("max_cents"), col("dev_bp"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
          byv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY v),
          cumv AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM byv),
          ks AS (SELECT CAST(i AS BIGINT) AS i, (i * n.n + 15) // 16 AS k
            FROM generate_series(1, 15) AS t(i), n),
          bounds AS (SELECT i, CAST(min(v) AS BIGINT) AS bv
            FROM ks JOIN cumv ON cum >= ks.k GROUP BY i),
          assigned AS (SELECT v, cnt,
              1 + (SELECT count(*) FROM bounds WHERE v > bv) AS bucket
            FROM byv)
        SELECT CAST(bucket AS BIGINT) AS bucket,
          CAST(sum(cnt) AS BIGINT) AS n_rows,
          CAST(min(v) AS BIGINT) AS min_cents,
          CAST(max(v) AS BIGINT) AS max_cents,
          abs(CAST(sum(cnt) AS BIGINT) * 16 - (SELECT n FROM n)) * 10000
            // (SELECT n FROM n) AS dev_bp
        FROM assigned GROUP BY bucket ORDER BY bucket""")
    ),
    // q154: join-size estimate + audit — the cost-model pass a planner
    // runs before committing to a join strategy: for an equi-join the
    // per-key census product Σ cA(k)·cB(k) IS the exact output
    // cardinality, so the estimate costs two map-side key censuses and
    // one key-domain join — no fact payload ever moves. The audit side
    // executes the real join (keys-only projection, count-only) and
    // `est_ok` pins estimate ≡ actual in the hash: the claim that
    // census-based costing can replace materialization. Per edge:
    // side row counts, common-key count, estimate, actual, verdict.
    Q(
      "q154_join_size_audit",
      (s, dir) => {
        def audit(
            edge: String,
            left: org.apache.spark.sql.DataFrame, lk: String,
            right: org.apache.spark.sql.DataFrame, rk: String) = {
          val ca = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("ca"))
          val cb = right.groupBy(col(rk).as("k2")).agg(count(lit(1)).as("cb"))
          val est = ca
            .join(cb, col("k") === col("k2"))
            .agg(
              count(lit(1)).as("n_common_keys"),
              sum(col("ca") * col("cb")).as("est_rows"))
          val nl = left.agg(count(lit(1)).as("n_left"))
          val nr = right.agg(count(lit(1)).as("n_right"))
          val actual = left
            .select(col(lk).as("jk"))
            .join(right.select(col(rk).as("jk")), "jk")
            .agg(count(lit(1)).as("actual_rows"))
          nl.crossJoin(broadcast(nr))
            .crossJoin(broadcast(est))
            .crossJoin(broadcast(actual))
            .select(
              lit(edge).as("edge"), col("n_left"), col("n_right"),
              col("n_common_keys"), col("est_rows"), col("actual_rows"),
              (col("est_rows") === col("actual_rows")).as("est_ok"))
        }
        audit("lineitem-orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
          .unionByName(audit("orders-customer", Tables.orders(s, dir), "o_custkey",
            Tables.customer(s, dir), "c_custkey"))
          .orderBy("edge")
      },
      Some("""WITH
          la AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
          ob AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
          oa AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
          cb AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM customer GROUP BY 1),
          e1 AS (SELECT 'lineitem-orders' AS edge,
              (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_left,
              (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_right,
              CAST(count(*) AS BIGINT) AS n_common_keys,
              CAST(sum(la.c * ob.c) AS BIGINT) AS est_rows,
              (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey) AS actual_rows
            FROM la JOIN ob ON la.k = ob.k),
          e2 AS (SELECT 'orders-customer' AS edge,
              (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
              (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_right,
              CAST(count(*) AS BIGINT) AS n_common_keys,
              CAST(sum(oa.c * cb.c) AS BIGINT) AS est_rows,
              (SELECT CAST(count(*) AS BIGINT) FROM orders
                JOIN customer ON o_custkey = c_custkey) AS actual_rows
            FROM oa JOIN cb ON oa.k = cb.k)
        SELECT edge, n_left, n_right, n_common_keys, est_rows, actual_rows,
          (est_rows = actual_rows) AS est_ok
        FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) ORDER BY edge""")
    ),
    // q156: association rules over per-user behavior baskets — the
    // market-basket op (support / confidence / lift) on the events
    // table: a basket is a user's DISTINCT event-type set, rules are
    // ordered type pairs. Scale shape: the corpus collapses map-side
    // to DISTINCT (user, type) (≤ types per user — the only corpus
    // shuffle); pair generation is a USER-keyed self-join whose
    // per-user fan-out is bounded by types² (a fixed small domain);
    // item and pair counts are two-phase aggregates over frames the
    // size of users·types. All metrics integer basis points:
    // confidence = n_ab·10⁴ // n_a, lift = n_ab·N·10⁴ // (n_a·n_b) —
    // no floating ratios, bit-exact across engines.
    Q(
      "q156_association_rules",
      (s, dir) => {
        val ut = Tables
          .events(s, dir)
          .select(col("user_id").as("u"), col("event_type").as("t"))
          .distinct()
        val nUsers = ut.agg(countDistinct(col("u")).as("nu")) // 1-row frame
        val item = ut.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
        val pairs = ut
          .select(col("u"), col("t").as("a"))
          .join(ut.select(col("u").as("u2"), col("t").as("b")), col("u") === col("u2"))
          .filter(col("a") =!= col("b"))
          .groupBy("a", "b")
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(item.select(col("t").as("ia"), col("n_t").as("n_a"))),
            col("a") === col("ia"))
          .join(broadcast(item.select(col("t").as("ib"), col("n_t").as("n_b"))),
            col("b") === col("ib"))
          .crossJoin(broadcast(nUsers))
          .select(
            col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"),
            expr("(n_ab * 10000) div n_a").as("conf_bp"),
            expr("(n_ab * nu * 10000) div (n_a * n_b)").as("lift_bp"))
          .orderBy("a", "b")
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
          n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM ut),
          item AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY t),
          p AS (SELECT a.t AS a, b.t AS b, CAST(count(*) AS BIGINT) AS n_ab
            FROM ut a JOIN ut b ON a.u = b.u AND a.t <> b.t GROUP BY 1, 2)
        SELECT p.a, p.b, ia.n_t AS n_a, ib.n_t AS n_b, p.n_ab,
          (p.n_ab * 10000) // ia.n_t AS conf_bp,
          (p.n_ab * n.n * 10000) // (ia.n_t * ib.n_t) AS lift_bp
        FROM p JOIN item ia ON p.a = ia.t JOIN item ib ON p.b = ib.t, n
        ORDER BY p.a, p.b""")
    ),
    // q158: inter-event gap profile (burstiness) — the cadence audit a
    // pipeline runs on per-entity event streams (bot detection, SLA
    // monitoring, session-design calibration): per user, the exact
    // min / median / p90 / max inter-event gap in whole seconds, and a
    // burstiness score = p90/median ×100. Scale shape: gaps come from
    // ONE user-keyed window pass (lag); the order statistics are rank
    // read-offs WITHIN each user's partition (row_number + count over
    // the same user/gap sort — per-user frames, never a global
    // order), and the report cut is TakeOrdered top-20 by burstiness.
    // All integer: gaps floor to seconds via epoch-micros div 10⁶
    // differences (identical in both engines), ratios in ×100 fixed
    // point.
    Q(
      "q158_interevent_gaps",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wq = Window.partitionBy("user_id").orderBy("ts")
        val gaps = Tables
          .events(s, dir)
          .select(col("user_id"), col("ts"))
          .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wq)))
          .filter(col("gap_us").isNotNull)
          .select(col("user_id"), expr("gap_us div 1000000").as("gap"))
        val wg = Window.partitionBy("user_id").orderBy("gap")
        val ranked = gaps
          .withColumn("rk", row_number().over(wg))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
        ranked
          .groupBy("user_id")
          .agg(
            max(col("n")).as("n_gaps"),
            min(col("gap")).as("min_gap_s"),
            min(when(col("rk") === expr("(n + 1) div 2"), col("gap"))).as("med_gap_s"),
            min(when(col("rk") === expr("(n * 9 + 9) div 10"), col("gap"))).as("p90_gap_s"),
            max(col("gap")).as("max_gap_s"))
          .withColumn("burst_x100", expr("(p90_gap_s * 100) div greatest(med_gap_s, CAST(1 AS BIGINT))"))
          .orderBy(desc("burst_x100"), asc("user_id"))
          .limit(20)
      },
      Some("""WITH g AS (SELECT user_id,
            (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))
              // 1000000 AS gap
          FROM events),
        gg AS (SELECT user_id, CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL),
        r AS (SELECT user_id, gap,
            row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rk,
            CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
          FROM gg),
        a AS (SELECT user_id, max(n) AS n_gaps,
            CAST(min(gap) AS BIGINT) AS min_gap_s,
            CAST(min(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS BIGINT) AS med_gap_s,
            CAST(min(CASE WHEN rk = (n * 9 + 9) // 10 THEN gap END) AS BIGINT) AS p90_gap_s,
            CAST(max(gap) AS BIGINT) AS max_gap_s
          FROM r GROUP BY user_id)
        SELECT user_id, n_gaps, min_gap_s, med_gap_s, p90_gap_s, max_gap_s,
          (p90_gap_s * 100) // greatest(med_gap_s, 1) AS burst_x100
        FROM a ORDER BY burst_x100 DESC, user_id LIMIT 20""")
    ),
    // q159: Theil–Sen robust trend — the outlier-resistant "is traffic
    // growing?" estimator: the corpus reduces to DAILY counts first
    // (the scale step — rows → ~30 cells regardless of corpus width),
    // then the median over all pairwise slopes is taken on the
    // days²-bounded pair frame (~435 pairs — a bounded self-join, the
    // classic Theil–Sen construction made cheap by aggregating
    // FIRST). Slopes are integer basis points of events/day; the
    // median is a rank read-off; the verdict (up/flat/down at a ±5%
    // band) rides the hash. A single corrupted day moves the mean
    // slope but not this median — that robustness is why the op
    // exists.
    Q(
      "q159_theil_sen_trend",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables
          .events(s, dir)
          .groupBy(expr("CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS BIGINT)").as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("d", dense_rank().over(Window.orderBy("day")))
          .ckpt() // ~30 cells: the pair frame rides this, not the corpus
        val slopes = daily
          .select(col("d").as("d1"), col("c").as("c1"))
          .join(daily.select(col("d").as("d2"), col("c").as("c2")), col("d1") < col("d2"))
          .select(expr("((c2 - c1) * 10000) div (d2 - d1)").as("slope_bp"))
        val ranked = slopes
          .withColumn("rk", row_number().over(Window.orderBy("slope_bp")))
          .withColumn("n", count(lit(1)).over())
        val med = ranked
          .filter(col("rk") === expr("(n + 1) div 2"))
          .select(col("slope_bp").as("med_slope_bp"), col("n").as("n_pairs"))
        val avgc = daily.agg(
          count(lit(1)).as("n_days"),
          expr("sum(c) div count(1)").as("avg_daily"))
        med
          .crossJoin(broadcast(avgc))
          .select(
            col("n_days"), col("n_pairs"), col("avg_daily"), col("med_slope_bp"),
            when(col("med_slope_bp") > col("avg_daily") * 500L, lit("up"))
              .when(col("med_slope_bp") < col("avg_daily") * -500L, lit("down"))
              .otherwise(lit("flat")).as("verdict"))
          .orderBy("n_days")
      },
      Some("""WITH daily AS (SELECT CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS BIGINT)
              AS day, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1),
          dd AS (SELECT day, c, CAST(dense_rank() OVER (ORDER BY day) AS BIGINT) AS d
            FROM daily),
          s AS (SELECT ((b.c - a.c) * 10000) // (b.d - a.d) AS slope_bp
            FROM dd a JOIN dd b ON a.d < b.d),
          r AS (SELECT slope_bp, row_number() OVER (ORDER BY slope_bp) AS rk,
              CAST(count(*) OVER () AS BIGINT) AS n FROM s),
          m AS (SELECT slope_bp AS med_slope_bp, n AS n_pairs FROM r WHERE rk = (n + 1) // 2),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
              CAST(sum(c) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_daily FROM daily)
        SELECT a.n_days, m.n_pairs, a.avg_daily, m.med_slope_bp,
          CASE WHEN m.med_slope_bp > a.avg_daily * 500 THEN 'up'
               WHEN m.med_slope_bp < a.avg_daily * -500 THEN 'down'
               ELSE 'flat' END AS verdict
        FROM m, a ORDER BY a.n_days""")
    ),
    // q160: grouped OLS trend (least-squares slope per event type) —
    // the parametric complement to q159's Theil–Sen: per type, the
    // daily series' exact OLS slope from INTEGER power sums. The
    // closed form slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is
    // computed entirely in BIGINT (x = day offset from the type's
    // first day, y = daily count; the numerator is scaled ·10⁴ before
    // the integral division) — the classic "regression without
    // floats" trick that makes the result bit-exact and
    // merge-associative: every Σ is a map-side partial, so the 5-row
    // answer costs one (type, day) reduce + one type reduce at any
    // corpus size.
    Q(
      "q160_grouped_ols",
      (s, dir) => {
        val daily = Tables
          .events(s, dir)
          .groupBy(
            col("event_type").as("et"),
            expr("CAST(to_date(ts) AS DATE)").as("day"))
          .agg(count(lit(1)).as("c"))
        val withX = daily
          .withColumn("mind", min(col("day")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("et")))
          .withColumn("x", datediff(col("day"), col("mind")).cast("long"))
        withX
          .groupBy("et")
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("c")).as("sy"),
            sum(col("x") * col("c")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(
            col("et").as("event_type"), col("n").as("n_days"), col("sy").as("n_events"),
            expr("((n * sxy - sx * sy) * 10000) div (n * sxx - sx * sx)").as("slope_bp"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        x AS (SELECT et, c, CAST(date_diff('day', min(day) OVER (PARTITION BY et), day)
            AS BIGINT) AS x FROM daily),
        p AS (SELECT et, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(c) AS BIGINT) AS sy, CAST(sum(x * c) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx
          FROM x GROUP BY et)
        SELECT et AS event_type, n AS n_days, sy AS n_events,
          ((n * sxy - sx * sy) * 10000) // (n * sxx - sx * sx) AS slope_bp
        FROM p ORDER BY event_type""")
    ),
    // q161: behavioral diversity index (inverse Simpson) — the
    // "entropy without floats" profile: per user, the effective
    // number of event types they use, via inverse Simpson ×100 =
    // n²·100 // Σc_t² (λ⁻¹ = 1 / Σp²; a user spread evenly over k
    // types scores ~k·100, a single-type user exactly 100). The
    // integer form replaces Shannon entropy's log — transcendentals
    // being the one kernel two engines won't bit-match. Scale shape:
    // one (user, type) reduce (map-side), one user reduce, TakeOrdered
    // top-20 by (diversity, events) with a user tie-break.
    Q(
      "q161_simpson_diversity",
      (s, dir) => {
        Tables
          .events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("c"))
          .groupBy("user_id")
          .agg(
            sum(col("c")).as("n_events"),
            count(lit(1)).as("n_types"),
            sum(col("c") * col("c")).as("sc2"))
          .withColumn("div_x100", expr("(n_events * n_events * 100) div sc2"))
          .orderBy(desc("div_x100"), desc("n_events"), asc("user_id"))
          .limit(20)
      },
      Some("""WITH ut AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
          u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
              CAST(count(*) AS BIGINT) AS n_types,
              CAST(sum(c * c) AS BIGINT) AS sc2
            FROM ut GROUP BY user_id)
        SELECT user_id, n_events, n_types, sc2,
          (n_events * n_events * 100) // sc2 AS div_x100
        FROM u ORDER BY div_x100 DESC, n_events DESC, user_id LIMIT 20""")
    ),
    // q163: behavior-archetype census via bitmask sets — the
    // set-valued profile as a BITMAP: each event type is one bit,
    // bit_or per user folds a user's whole history into a 5-bit
    // archetype word, and the census over the 2⁵-bounded mask domain
    // is the "which behavior combinations exist, and how common is
    // each" report. This is the roaring-bitmap/set-encoding idiom at
    // engine level: the per-user reduce is an associative bitwise OR
    // (map-side combine, order-free by construction), downstream
    // frames are mask-domain-sized, and the human-readable label is
    // decoded from bits with concat_ws skipping unset positions —
    // both engines define `&`, bit_or and NULL-skipping concat_ws
    // identically, so the hash pins them all.
    Q(
      "q163_archetype_census",
      (s, dir) => {
        val bit = expr(
          """CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
             WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
             WHEN 'view' THEN 16 ELSE 0 END""").cast("long")
        val users = Tables
          .events(s, dir)
          .select(col("user_id"), bit.as("b"))
          .groupBy("user_id")
          .agg(expr("bit_or(b)").as("mask"))
        val nU = users.agg(count(lit(1)).as("nu"))
        users
          .groupBy("mask")
          .agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(nU))
          .select(
            col("mask"),
            concat_ws("+",
              when(expr("mask & 1") > 0L, "click"),
              when(expr("mask & 2") > 0L, "error"),
              when(expr("mask & 4") > 0L, "purchase"),
              when(expr("mask & 8") > 0L, "signup"),
              when(expr("mask & 16") > 0L, "view")).as("archetype"),
            col("n_users"),
            expr("(n_users * 10000) div nu").as("share_bp"))
          .orderBy("mask")
      },
      Some("""WITH b AS (SELECT user_id,
            CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
              WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
              WHEN 'view' THEN 16 ELSE 0 END AS b
          FROM events),
        u AS (SELECT user_id, CAST(bit_or(b) AS BIGINT) AS mask FROM b GROUP BY user_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u)
        SELECT mask, concat_ws('+',
            CASE WHEN mask & 1 > 0 THEN 'click' END,
            CASE WHEN mask & 2 > 0 THEN 'error' END,
            CASE WHEN mask & 4 > 0 THEN 'purchase' END,
            CASE WHEN mask & 8 > 0 THEN 'signup' END,
            CASE WHEN mask & 16 > 0 THEN 'view' END) AS archetype,
          CAST(count(*) AS BIGINT) AS n_users,
          (CAST(count(*) AS BIGINT) * 10000) // n.nu AS share_bp
        FROM u, n GROUP BY mask, n.nu ORDER BY mask""")
    ),
    // q164: Gini concentration of customer revenue — the inequality
    // audit a curation pipeline runs on source/customer dominance
    // ("does 1% of the keys carry 90% of the mass?"). EXACT, with no
    // global sort: the rank-sum Σ rank·value is assembled from the
    // value CENSUS via the q153 two-level discipline — coarse
    // 10k-dollar bins give each bin its cum-before offset (bounded
    // frame, one small window), the within-bin cum runs PARTITION BY
    // bin, and each distinct value v with count c and cum-before cb
    // contributes v·(c·cb + c(c+1)/2) — the closed form of its tie
    // block's rank sum (ties make the per-row rank order arbitrary
    // but the block sum invariant, which is why the census form is
    // deterministic where row_number would not be). The rank-sum
    // products and the ·10⁴-scaled numerator run in DECIMAL(38,0)
    // (Spark) / HUGEINT (DuckDB's native sum type) so the kernel is
    // exact at any corpus size; the one integral division at the end
    // truncates identically in both engines. G_bp = (2R·10⁴)//(nS) −
    // ((n+1)·10⁴)//n.
    Q(
      "q164_gini_concentration",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rev = Tables
          .orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("v"))
        val byv = rev.groupBy("v").agg(count(lit(1)).as("c")).ckpt()
        val tot = byv.agg(
          sum("c").as("n"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * c")).as("sv"))
        val binned = byv.withColumn("bin", expr("v div 1000000"))
        val binAgg = binned
          .groupBy("bin")
          .agg(sum("c").as("bc"))
          .withColumn(
            "cb_bin",
            coalesce(
              sum(col("bc")).over(
                Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .select(col("bin").as("b2"), col("cb_bin"))
        val ranked = binned
          .join(broadcast(binAgg), col("bin") === col("b2"))
          .withColumn(
            "wcum",
            sum(col("c")).over(
              Window.partitionBy("bin").orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cb", col("cb_bin") + col("wcum") - col("c"))
        val r = ranked.agg(
          sum(expr("CAST(v AS DECIMAL(38,0)) * (c * cb + (c * (c + 1)) div 2)")).as("rsum"))
        r.crossJoin(broadcast(tot))
          .select(
            col("n").as("n_customers"),
            expr("CAST(sv AS BIGINT)").as("total_cents"),
            expr("CAST((2 * rsum * 10000) div (n * sv) - ((n + 1) * 10000) div n AS BIGINT)")
              .as("gini_bp"))
          .orderBy("n_customers")
      },
      Some("""WITH rev AS (SELECT o_custkey,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY o_custkey),
        byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM rev GROUP BY v),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS n, sum(v * c) AS sv FROM byv),
        binned AS (SELECT v, c, v // 1000000 AS bin FROM byv),
        ba AS (SELECT bin, CAST(coalesce(sum(sum(c)) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb_bin
          FROM binned GROUP BY bin),
        rk AS (SELECT v, c,
            ba.cb_bin + CAST(sum(c) OVER (PARTITION BY binned.bin ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) - c AS cb
          FROM binned JOIN ba ON binned.bin = ba.bin),
        r AS (SELECT sum(v * (c * cb + (c * (c + 1)) // 2)) AS rsum FROM rk)
        SELECT t.n AS n_customers, CAST(t.sv AS BIGINT) AS total_cents,
          CAST((2 * r.rsum * 10000) // (t.n * t.sv)
            - ((t.n + 1) * 10000) // t.n AS BIGINT) AS gini_bp
        FROM r, t ORDER BY n_customers""")
    ),
    // q166: top-share (Lorenz) read-offs — q164's Gini answered "how
    // concentrated"; this answers the operator's follow-up: "how much
    // of the mass do the top 1% / 5% / 10% of customers hold?" Exact,
    // with tie-correct cuts and NO global sort or census broadcast.
    // The per-customer revenue census is O(n_customers) (revenue
    // totals are nearly all distinct — NOT the bounded value-domain
    // class of q144), so the descending cum count/mass uses q164's
    // two-level decomposition: coarse 10k-dollar bins carry the
    // cum-above offsets (bin index is revenue-range/10⁶-sized —
    // bounded — the ONLY partition-less window), the within-bin desc
    // cum runs PARTITION BY bin, and each k-cut first resolves its
    // BIN from the broadcast bin index (the unique bin with
    // cum_above < k ≤ cum_through), then equi-joins only that bin's
    // census rows. The cut value for k = ceil(n·p/100) is the largest
    // v whose desc-cum reaches k; the mass takes full blocks above
    // the cut plus exactly (k − cum_above) customers from the cut's
    // tie block — the closed-form tie split that makes the result
    // independent of any within-tie order. All integer; shares in
    // basis points. Broadcasts: bin index (bounded), 1-row totals,
    // 3-row cut frame — never the census.
    Q(
      "q166_top_share",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byv = Tables
          .orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("v"))
          .groupBy("v")
          .agg(count(lit(1)).as("c"))
          .ckpt()
        val tot = byv.agg(sum("c").as("n"), sum(expr("v * c")).as("sv"))
        val binned = byv.withColumn("bin", expr("v div 1000000"))
        // bin-level DESC cum-above offsets — the one partition-less
        // window, over the bounded bin index (revenue-range/10⁶ cells)
        val binW = Window.orderBy(desc("bin")).rowsBetween(Window.unboundedPreceding, -1)
        val binAgg = binned
          .groupBy("bin")
          .agg(sum("c").as("bc"), sum(expr("v * c")).as("bm"))
          .withColumn("ca_bin", coalesce(sum(col("bc")).over(binW), lit(0L)))
          .withColumn("ma_bin", coalesce(sum(col("bm")).over(binW), lit(0L)))
          .select(col("bin").as("b2"), col("bc"), col("ca_bin"), col("ma_bin"))
          .ckpt()
        // within-bin desc cum: PARTITION BY bin — the census never
        // collapses to one partition and is never broadcast
        val wW = Window
          .partitionBy("bin")
          .orderBy(desc("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = binned
          .join(broadcast(binAgg), col("bin") === col("b2"))
          .withColumn("cumc", col("ca_bin") + sum(col("c")).over(wW))
          .withColumn("cumm", col("ma_bin") + sum(expr("v * c")).over(wW))
          .select(col("bin"), col("v"), col("c"), col("cumc"), col("cumm"))
        val ks = s
          .createDataFrame(Seq(Tuple1(1), Tuple1(5), Tuple1(10)))
          .toDF("p")
          .crossJoin(broadcast(tot))
          .select(
            col("p").cast("long").as("p"),
            expr("(n * p + 99) div 100").as("k"), col("sv"))
        // resolve each k's cut BIN on the bounded bin index: the unique
        // bin with cum_above < k ≤ cum_above + bin_count
        val cutBin = ks
          .join(
            broadcast(binAgg),
            col("ca_bin") < col("k") && col("ca_bin") + col("bc") >= col("k"))
          .select(col("p"), col("k"), col("sv"), col("b2").as("cbin"))
        // within the cut bin only: the row of the largest v whose
        // desc-cum reaches k (3-row frame broadcast, census streamed)
        cum
          .join(
            broadcast(cutBin),
            col("bin") === col("cbin") && col("cumc") >= col("k"))
          .groupBy("p", "k", "sv")
          .agg(expr("max_by(struct(v, c, cumc, cumm), v)").as("r"))
          .select(
            col("p"), col("k").as("k_customers"),
            (col("r.cumm") - col("r.v") * col("r.c") +
              (col("k") - (col("r.cumc") - col("r.c"))) * col("r.v")).as("mass_cents"),
            col("sv"))
          .withColumn("share_bp", expr("(mass_cents * 10000) div sv"))
          .select(col("p"), col("k_customers"), col("mass_cents"), col("share_bp"))
          .orderBy("p")
      },
      Some("""WITH rev AS (SELECT o_custkey,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY o_custkey),
        byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM rev GROUP BY v),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(v * c) AS BIGINT) AS sv FROM byv),
        cum AS (SELECT v, c,
            CAST(sum(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
            CAST(sum(v * c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumm
          FROM byv),
        ks AS (SELECT CAST(p AS BIGINT) AS p, (t.n * p + 99) // 100 AS k, t.n, t.sv
          FROM (SELECT unnest([1, 5, 10]) AS p), t),
        cut AS (SELECT p, k, n, sv, CAST(max(v) AS BIGINT) AS vcut
          FROM ks JOIN cum ON cumc >= ks.k GROUP BY p, k, n, sv)
        SELECT cut.p, cut.k AS k_customers,
          CAST(cum.cumm - cut.vcut * cum.c
            + (cut.k - (cum.cumc - cum.c)) * cut.vcut AS BIGINT) AS mass_cents,
          CAST((cum.cumm - cut.vcut * cum.c
            + (cut.k - (cum.cumc - cum.c)) * cut.vcut) * 10000 AS BIGINT) // cut.sv
            AS share_bp
        FROM cut JOIN cum ON cut.vcut = cum.v
        ORDER BY cut.p""")
    ),
    // q167: round-number bias audit — the fraud/psychology sibling of
    // q140's Benford gate: human-entered or fabricated prices
    // over-select "round" cent endings (.00, .50, .99); organically
    // computed ones spread uniformly (expected 100 bp per ending).
    // One map-side classification (cents mod 100 → 4 classes) + one
    // 4-cell aggregate; observed shares and signed deviations in
    // integer basis points against literal expectations (no runtime
    // probability math — the q140 discipline).
    Q(
      "q167_round_number_bias",
      (s, dir) => {
        val ending = expr("""CASE CAST(floor(o_totalprice * 100) AS BIGINT) % 100
          WHEN 0 THEN '00' WHEN 50 THEN '50' WHEN 99 THEN '99'
          ELSE 'other' END""")
        val expected = expr(
          "CASE ending WHEN 'other' THEN CAST(9700 AS BIGINT) ELSE CAST(100 AS BIGINT) END")
        val n = Tables.orders(s, dir).agg(count(lit(1)).as("n_total"))
        Tables
          .orders(s, dir)
          .groupBy(ending.as("ending"))
          .agg(count(lit(1)).as("observed"))
          .crossJoin(broadcast(n))
          .select(
            col("ending"), col("observed"), col("n_total"),
            expr("(observed * 10000) div n_total").as("share_bp"),
            expected.as("expected_bp"))
          .withColumn("dev_bp", expr("(observed * 10000) div n_total - expected_bp"))
          .orderBy("ending")
      },
      Some("""WITH e AS (SELECT CASE CAST(floor(o_totalprice * 100) AS BIGINT) % 100
            WHEN 0 THEN '00' WHEN 50 THEN '50' WHEN 99 THEN '99'
            ELSE 'other' END AS ending
          FROM orders),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e),
        g AS (SELECT ending, CAST(count(*) AS BIGINT) AS observed FROM e GROUP BY ending)
        SELECT g.ending, g.observed, n.n_total,
          (g.observed * 10000) // n.n_total AS share_bp,
          CAST(CASE g.ending WHEN 'other' THEN 9700 ELSE 100 END AS BIGINT) AS expected_bp,
          (g.observed * 10000) // n.n_total
            - CASE g.ending WHEN 'other' THEN 9700 ELSE 100 END AS dev_bp
        FROM g, n ORDER BY g.ending""")
    ),
    // q171: explicit Bloom-filter pruning audit — the 100 TB
    // join-pruning workhorse as a first-class, cross-engine-exact
    // object (s13 exercises Catalyst's INTERNAL runtime bloom; this
    // one builds the filter itself so its guarantees are testable):
    // m=4096 bits as 64 int64 words, k=3 h60-derived hash positions,
    // built from the q143 request keyset (~1% of customers) with a
    // bit_or word aggregate (≤64 cells — the filter is index METADATA,
    // the IVF-codebook class, so it folds into a literal and the probe
    // is ENTIRELY map-side: no join, no shuffle touches the fact
    // table). The audit measures what a deploy needs to know: the
    // false-positive rate actually achieved, the fraction of fact rows
    // the filter would prune before a shuffle, and — in-hash — ZERO
    // false negatives (a Bloom filter that drops a true member is
    // corrupt, not approximate). All integer bp arithmetic.
    Q(
      "q171_bloom_prune",
      (s, dir) => {
        val mBits = 4096L
        def posCol(j: Int, key: org.apache.spark.sql.Column) =
          graft.ops.Hashing.h60(concat(lit(s"bf$j:"), key.cast("string"))) % lit(mBits)
        val keys = Tables
          .customer(s, dir)
          .filter(pmod(col("c_custkey"), lit(BloomKeyMod)) === BloomKeyRes)
          .select(col("c_custkey").as("k"))
        val pos = (0 until 3)
          .map(j => keys.select(posCol(j, col("k")).as("p")))
          .reduce(_ unionAll _)
        // 62-bit words: bit 63 is the sign and DuckDB range-checks bit
        // 62 shifts, so 62 payload bits per word keeps the shift kernel
        // portable (67 words cover the 4096 positions)
        val words = pos
          .select(
            expr("p div 62").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 62 AS INT))").as("m"))
          .groupBy("w")
          .agg(expr("bit_or(m)").as("bits"))
          .collect() // ≤67 filter words — bounded index metadata
        val arr = Array.fill(67)(0L)
        words.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
        var probe = Tables.orders(s, dir).select(col("o_custkey").as("k"))
        (0 until 3).foreach { j =>
          probe = probe.withColumn(s"p$j", posCol(j, col("k")))
        }
        probe = probe.withColumn("bw", typedLit(arr.toSeq))
        val pass = (0 until 3)
          .map(j =>
            expr(s"(element_at(bw, CAST(p$j div 62 AS INT) + 1) & " +
              s"shiftleft(CAST(1 AS BIGINT), CAST(p$j % 62 AS INT))) != 0"))
          .reduce(_ && _)
        val nKeys = keys.agg(count(lit(1)).as("n_keys"))
        probe
          .withColumn("pass", pass)
          // Membership is CLOSED-FORM: the keyset IS {c_custkey %
          // BloomKeyMod == BloomKeyRes} and FK integrity holds (see the
          // constants' scaladoc), so the audit's ground truth is the
          // same predicate evaluated map-side on the fact row. The
          // previous broadcast join shipped a keyset that scales with
          // the corpus (~1% of customers) through the driver — the one
          // pinned-broadcast-on-a-scaling-side on the board; this form
          // does zero joins over the fact and holds at any SF.
          .withColumn("mem", pmod(col("k"), lit(BloomKeyMod)) === BloomKeyRes)
          .agg(
            count(lit(1)).as("n_probe"),
            sum(when(col("mem"), 1L).otherwise(0L)).as("n_member"),
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
            sum(when(col("pass") && !col("mem"), 1L).otherwise(0L)).as("n_fp"),
            sum(when(!col("pass") && col("mem"), 1L).otherwise(0L)).as("n_fn"))
          .crossJoin(broadcast(nKeys))
          .select(
            col("n_keys"),
            lit(4096L).as("m_bits"),
            lit(3L).as("k_hashes"),
            col("n_probe"), col("n_member"), col("n_pass"), col("n_fp"),
            // guarded: all-member probe sets make the non-member base 0
            // (Spark div → NULL, DuckDB // → error — q162 class)
            expr("""CASE WHEN n_probe = n_member THEN CAST(0 AS BIGINT)
              ELSE (n_fp * 10000) div (n_probe - n_member) END""").as("fp_bp"),
            expr("((n_probe - n_pass) * 10000) div n_probe").as("pruned_bp"),
            (col("n_fn") === 0L).as("bloom_ok"))
          .orderBy("n_keys")
      },
      Some {
        def posSql(j: Int, key: String) =
          s"(${graft.oracle.OracleSql.h60(s"'bf$j:' || CAST($key AS VARCHAR)")}) % 4096"
        s"""WITH keys AS (SELECT c_custkey AS k FROM customer
            WHERE c_custkey % $BloomKeyMod = $BloomKeyRes),
          pos AS (SELECT ${posSql(0, "k")} AS p FROM keys
            UNION ALL SELECT ${posSql(1, "k")} FROM keys
            UNION ALL SELECT ${posSql(2, "k")} FROM keys),
          w AS (SELECT p // 62 AS w,
              CAST(bit_or(1::BIGINT << CAST(p % 62 AS INT)) AS BIGINT) AS bits
            FROM pos GROUP BY 1),
          pr AS (SELECT o_custkey AS k,
              ${posSql(0, "o_custkey")} AS p0,
              ${posSql(1, "o_custkey")} AS p1,
              ${posSql(2, "o_custkey")} AS p2
            FROM orders),
          chk AS (SELECT pr.k,
              (coalesce(w0.bits, 0) & (1::BIGINT << CAST(p0 % 62 AS INT))) <> 0
              AND (coalesce(w1.bits, 0) & (1::BIGINT << CAST(p1 % 62 AS INT))) <> 0
              AND (coalesce(w2.bits, 0) & (1::BIGINT << CAST(p2 % 62 AS INT))) <> 0 AS pass
            FROM pr LEFT JOIN w w0 ON w0.w = p0 // 62
              LEFT JOIN w w1 ON w1.w = p1 // 62
              LEFT JOIN w w2 ON w2.w = p2 // 62),
          mm AS (SELECT chk.k, pass, (chk.k IN (SELECT k FROM keys)) AS mem FROM chk)
        SELECT CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_keys,
          CAST(4096 AS BIGINT) AS m_bits,
          CAST(3 AS BIGINT) AS k_hashes,
          CAST(count(*) AS BIGINT) AS n_probe,
          CAST(count(*) FILTER (mem) AS BIGINT) AS n_member,
          CAST(count(*) FILTER (pass) AS BIGINT) AS n_pass,
          CAST(count(*) FILTER (pass AND NOT mem) AS BIGINT) AS n_fp,
          CASE WHEN count(*) = count(*) FILTER (mem) THEN CAST(0 AS BIGINT)
               ELSE (CAST(count(*) FILTER (pass AND NOT mem) AS BIGINT) * 10000)
                 // (CAST(count(*) AS BIGINT) - CAST(count(*) FILTER (mem) AS BIGINT))
          END AS fp_bp,
          ((CAST(count(*) AS BIGINT) - CAST(count(*) FILTER (pass) AS BIGINT)) * 10000)
            // CAST(count(*) AS BIGINT) AS pruned_bp,
          CAST(count(*) FILTER (mem AND NOT pass) AS BIGINT) = 0 AS bloom_ok
        FROM mm ORDER BY n_keys"""
      }
    ),
    // q182: the registered graft_* kernels exercised THROUGH SQL TEXT —
    // q72 proves spark.sql planning over parquet tables and every batch
    // query calls the native expressions through the DataFrame
    // call_function path, but no declared entry had ever invoked them
    // by NAME inside spark.sql, which is the exact surface a cluster
    // deployment gets from `spark.sql.extensions=graft.functions
    // .GraftExtensions` (GraftFunctions.scala — both entry points
    // register the same builder seq, so green here proves the
    // extension-path wiring end-to-end). Two facets, one statement:
    // graft_ema over each user's full ordered close series (the q07
    // recurrence, final-day value) and graft_dotf self-dot norms² over
    // a bounded embedding slice. Scale shape: identical to the
    // DataFrame forms — Catalyst resolves the functions to the same
    // native codegen expressions, the bar aggregate partial-aggregates
    // map-side, the collect_list rides one shuffle on user_id (bounded:
    // one day-bar row per user-day), and the embedding facet is a
    // pushed-down map-only scan of 32 rows.
    Q(
      "q182_sql_functions",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("graft_events")
        Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
        s.sql("""
          SELECT id, metric, val FROM (
            SELECT user_id AS id, 'ema9_final' AS metric,
              floor(graft_ema(
                transform(array_sort(collect_list(struct(day, close))), x -> x.close),
                9) * 1e6 + 5e-1) / 1e6 AS val
            FROM (
              SELECT user_id,
                CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS BIGINT) AS day,
                max_by(value, ts) AS close
              FROM graft_events GROUP BY 1, 2
            ) GROUP BY user_id
            UNION ALL
            SELECT vec_id AS id, 'dot_self' AS metric,
              floor(graft_dotf(embedding, embedding) * 1e6 + 5e-1) / 1e6 AS val
            FROM graft_embeddings WHERE vec_id < 32
          ) ORDER BY metric, id""")
      },
      Some(s"""WITH ${graft.oracle.OracleSql.emaCte},
        fin AS (SELECT user_id, arg_max(ema_fast, day) AS emaf FROM ema GROUP BY user_id)
        SELECT id, metric, val FROM (
          SELECT user_id AS id, 'ema9_final' AS metric,
            floor(emaf * 1e6 + 5e-1) / 1e6 AS val FROM fin
          UNION ALL
          SELECT vec_id AS id, 'dot_self' AS metric,
            ${graft.oracle.OracleSql.r6(
              graft.oracle.OracleSql.dot("embedding", "embedding"))} AS val
          FROM embeddings WHERE vec_id < 32)
        ORDER BY metric, id""")
    ),
    // q209: BUCKETED co-located join — Spark's own storage-layout
    // answer to the co-location question the SnapshotLog family solves
    // at the format layer: both join sides written `bucketBy(8,
    // custkey)` through the session catalog, so EnsureRequirements
    // plans the SortMergeJoin with ZERO Exchange below it (each task
    // reads matched bucket files — at 100 TB this is THE way a
    // recurring fact⋈dim join amortizes its shuffle into the write
    // path). The claim is MEASURED, not asserted: the query counts
    // Exchange operators in its own bucketed join plan (0) and in the
    // identical plain-parquet plan under the same merge-join hint (2 —
    // both sides repartitioned), and surfaces both counts in-hash
    // beside the join census. Plan shapes are static (EnsureRequirements
    // decides from output partitioning, not statistics), so the
    // constants hold at every SF.
    //
    // Scale shape: the bucketed write is a one-time layout cost
    // (memoized per dir here — the production table is written once);
    // the recurring join reads co-partitioned buckets with no exchange
    // on either side; the census is one partial-agg rollup.
    Q(
      "q209_bucketed_colocated_join",
      (s, dir) => {
        import s.implicits._
        val (ordersT, custT) = bucketedTables(s, dir)
        def joined(o: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
          o.hint("merge")
            .join(c.hint("merge"), Seq("ck"))
            .select(col("cents"))
        val bk = joined(s.table(ordersT), s.table(custT))
        val plain = joined(
          Tables.orders(s, dir).select(col("o_custkey").cast("long").as("ck"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents")),
          Tables.customer(s, dir).select(col("c_custkey").cast("long").as("ck")))
        val (exB, exP) =
          (graft.ops.BucketedJoin.countShuffles(bk),
            graft.ops.BucketedJoin.countShuffles(plain))
        val a = bk.agg(count(lit(1)).as("n"), sum(col("cents")).as("sc")).head()
        Seq((a.getLong(0), a.getLong(1), 8L, exB, exP, exB == 0L && exP > exB))
          .toDF("n_rows", "sum_cents", "n_buckets", "exchanges_bucketed",
            "exchanges_plain", "colocated_ok")
          .orderBy("n_rows")
      },
      Some("""WITH j AS (SELECT CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(cents) AS BIGINT) AS sum_cents,
          CAST(8 AS BIGINT) AS n_buckets,
          CAST(0 AS BIGINT) AS exchanges_bucketed,
          CAST(2 AS BIGINT) AS exchanges_plain,
          TRUE AS colocated_ok
        FROM j ORDER BY n_rows""")
    ),
    // q210: JOIN-CARDINALITY estimation audit — WHY a table format
    // carries NDV sketches (s64): the classic CBO equi-join formula
    // |A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)) evaluated entirely
    // from METADATA (row counts + the exact-integer HLL estimates of
    // q170's kernel — one 64-cell register census per side, map-side
    // partial agg, model-metadata collect) and audited against the
    // TRUE join cardinality, signed error in bp. BigInt driver
    // arithmetic mirrors the oracle's HUGEINT exactly (|A|·|B| alone
    // overflows BIGINT at real row counts). FK joins are the formula's
    // best case (every orders key exists in customer, so max(ndv) ≈
    // ndv_customer and the estimate ≈ |orders| · containment); the
    // measured err_bp quantifies what HLL noise (±~13% at m=64) does
    // to the plan-time estimate — the number a CBO's risk margin is
    // sized from.
    //
    // Scale shape: both register censuses are one partial-agg pass
    // collapsing to ≤64 cells; at 100 TB they ride the same write-time
    // scan that builds s64's sketches and the audit's exact join is
    // the only corpus-sized work (it exists only as this entry's
    // ground-truth layer).
    Q(
      "q210_join_cardinality_estimate",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Hll
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val nO = o.count()
        val nC = c.count()
        val ndvO = Hll.estimateInt(
          Hll.registerCensus(o, col("o_custkey").cast("long").cast("string")))
        val ndvC = Hll.estimateInt(
          Hll.registerCensus(c, col("c_custkey").cast("long").cast("string")))
        // the CBO estimate, all metadata
        val estJoin = (BigInt(nO) * BigInt(nC) / BigInt(math.max(ndvO, ndvC))).toLong
        val trueJoin = o.select(col("o_custkey").cast("long").as("ck"))
          .join(c.select(col("c_custkey").cast("long").as("ck")), Seq("ck"))
          .count()
        val errBp = (BigInt(estJoin - trueJoin) * 10000 / BigInt(trueJoin)).toLong
        Seq((nO, nC, ndvO, ndvC, estJoin, trueJoin, errBp))
          .toDF("n_orders", "n_customer", "ndv_est_orders", "ndv_est_customer",
            "est_join_rows", "true_join_rows", "err_bp")
          .orderBy("n_orders")
      },
      Some {
        import graft.oracle.OracleSql.{hllEstimateOverRegs, hllRegs}
        s"""WITH f AS (SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
            (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_customer,
            ${hllEstimateOverRegs(hllRegs("orders", "o_custkey"))} AS ndv_est_orders,
            ${hllEstimateOverRegs(hllRegs("customer", "c_custkey"))} AS ndv_est_customer,
            (SELECT CAST(count(*) AS BIGINT) FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey) AS true_join_rows)
          SELECT n_orders, n_customer, ndv_est_orders, ndv_est_customer,
            CAST(CAST(n_orders AS HUGEINT) * n_customer
              // greatest(ndv_est_orders, ndv_est_customer) AS BIGINT)
              AS est_join_rows,
            true_join_rows,
            CAST((CAST(n_orders AS HUGEINT) * n_customer
                // greatest(ndv_est_orders, ndv_est_customer) - true_join_rows)
              * 10000 // true_join_rows AS BIGINT) AS err_bp
          FROM f ORDER BY n_orders"""
      }
    ),
    // q211: BUCKETED co-located aggregation — the second dividend of
    // q209's layout: a groupBy on the bucket column is satisfied by
    // the scan's reported HashPartitioning, so the aggregate plans
    // with ZERO Exchange (partial and final fuse over co-partitioned
    // bucket files), where the identical plain-parquet aggregate must
    // shuffle once. Same measured-in-query discipline as q209: both
    // plans' Exchange counts ride the hash beside the aggregate's own
    // census (group count, total, max group size). At 100 TB this is
    // the recurring per-customer rollup whose shuffle the write-once
    // layout amortizes away.
    Q(
      "q211_bucketed_colocated_agg",
      (s, dir) => {
        import s.implicits._
        val (ordersT, _) = bucketedTables(s, dir)
        def agged(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("ck").agg(sum(col("cents")).as("sc"), count(lit(1)).as("n"))
        val bk = agged(s.table(ordersT))
        val plain = agged(
          Tables.orders(s, dir).select(
            col("o_custkey").cast("long").as("ck"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents")))
        val (exB, exP) =
          (graft.ops.BucketedJoin.countShuffles(bk),
            graft.ops.BucketedJoin.countShuffles(plain))
        val a = bk.agg(
          count(lit(1)).as("ng"), sum(col("sc")).as("tc"), max(col("n")).as("mx")).head()
        Seq((a.getLong(0), a.getLong(1), a.getLong(2), exB, exP, exB == 0L && exP > exB))
          .toDF("n_groups", "total_cents", "max_group_rows",
            "exchanges_bucketed", "exchanges_plain", "colocated_ok")
          .orderBy("n_groups")
      },
      Some("""WITH g AS (SELECT o_custkey AS ck,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sc,
            CAST(count(*) AS BIGINT) AS n
          FROM orders GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(sc) AS BIGINT) AS total_cents,
          CAST(max(n) AS BIGINT) AS max_group_rows,
          CAST(0 AS BIGINT) AS exchanges_bucketed,
          CAST(1 AS BIGINT) AS exchanges_plain,
          TRUE AS colocated_ok
        FROM g ORDER BY n_groups""")
    ),
    // q212: per-COLUMN NDV registers in the long-form stat table — the
    // r17-verdict headline: q210's CBO estimate read a DEDICATED
    // register census for one key; here s64's per-file HLL sketches are
    // generalized by col_name into ONE long-form stat table (col_ndv,
    // the col_stats shape) and the SAME estimator answers TWO
    // different join keys (orders⋈customer on custkey, orders⋈lineitem
    // on orderkey) entirely from log metadata — row counts from the
    // committed manifest, registers merged per-bucket-max out of
    // col_ndv. Signed est-vs-true err_bp rides the hash for both joins
    // (q210's exact BigInt/HUGEINT arithmetic), and regs_match pins the
    // HLL merge property: metadata-merged registers must EQUAL the
    // direct census over each side's key column. Full lifecycle +
    // scale shape: SnapshotLog.colNdvEstimates scaladoc.
    Q(
      "q212_colstat_ndv_estimates",
      (s, dir) => graft.sinks.SnapshotLog.colNdvEstimates(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllBucket, hllEstimateOverRegs, hllRegs}
        // count of long-form stat rows = per-(file, register-bucket)
        // cells of the key column, file = the staged bucket residue
        def statRows(rel: String, key: String, f: String) =
          s"""(SELECT CAST(count(*) AS BIGINT) FROM (
             SELECT f, ${hllBucket("h")} AS bucket FROM
               (SELECT $f AS f, ${h60(s"CAST($key AS VARCHAR)")} AS h FROM $rel)
             GROUP BY 1, 2))"""
        def joinCte(
            relL: String, keyL: String, fL: String,
            relR: String, keyR: String, fR: String, cond: String) =
          s"""SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM $relL) AS n_left,
              (SELECT CAST(count(*) AS BIGINT) FROM $relR) AS n_right,
              ${hllEstimateOverRegs(hllRegs(relL, keyL))} AS ndv_left,
              ${hllEstimateOverRegs(hllRegs(relR, keyR))} AS ndv_right,
              (SELECT CAST(count(*) AS BIGINT) FROM $relL a JOIN $relR b ON $cond)
                AS true_join_rows,
              ${statRows(relL, keyL, fL)} + ${statRows(relR, keyR, fR)}
                AS n_stat_rows"""
        def sel(name: String, cte: String) =
          s"""SELECT '$name' AS join_key, n_left, n_right, ndv_left, ndv_right,
              CAST(CAST(n_left AS HUGEINT) * n_right
                // greatest(ndv_left, ndv_right) AS BIGINT) AS est_join_rows,
              true_join_rows,
              CAST((CAST(n_left AS HUGEINT) * n_right
                  // greatest(ndv_left, ndv_right) - true_join_rows)
                * 10000 // true_join_rows AS BIGINT) AS err_bp,
              CAST(n_stat_rows AS BIGINT) AS n_stat_rows, TRUE AS regs_match
            FROM $cte"""
        s"""WITH f1 AS (${joinCte(
              "orders", "o_custkey", "CAST(o_orderkey AS BIGINT) % 4",
              "customer", "c_custkey", "CAST(c_custkey AS BIGINT) % 2",
              "a.o_custkey = b.c_custkey")}),
          f2 AS (${joinCte(
              "orders", "o_orderkey", "CAST(o_orderkey AS BIGINT) % 4",
              "lineitem", "l_orderkey", "CAST(l_orderkey AS BIGINT) % 2",
              "a.o_orderkey = b.l_orderkey")})
          SELECT * FROM (
            ${sel("orders_customer", "f1")}
            UNION ALL ${sel("orders_lineitem", "f2")})
          ORDER BY join_key"""
      }
    ),
    // q214: cost-based JOIN-ORDER audit — what the q210/q212 estimates
    // are FOR: a three-relation chain (customer ⋈ orders ⋈ lineitem)
    // has two left-deep orders, distinguished by their INTERMEDIATE
    // cardinality; the optimizer's choice is argmin of the estimated
    // intermediates, computed entirely from metadata (row counts +
    // q210's integer HLL NDV estimates), and the audit checks the
    // choice against the TRUE intermediates (the only corpus-sized
    // work, existing as ground truth): choice_ok = the metadata pick
    // equals the true-optimal pick, with both signed est errors
    // in-hash. Integer BigInt/HUGEINT arithmetic throughout, so both
    // engines make the identical pick deterministically.
    //
    // Scale shape: four ≤64-cell register censuses + three counts on
    // the estimate side; at 100 TB those ride write-time stats (q212's
    // col_ndv) and the audit's exact joins exist only in this entry.
    Q(
      "q214_join_order_audit",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Hll
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        def ndv(df: org.apache.spark.sql.DataFrame, key: String): Long =
          Hll.estimateInt(Hll.registerCensus(df, col(key).cast("long").cast("string")))
        def trueJoin(a: org.apache.spark.sql.DataFrame, ka: String,
            b: org.apache.spark.sql.DataFrame, kb: String): Long =
          a.select(col(ka).cast("long").as("j"))
            .join(b.select(col(kb).cast("long").as("j")), Seq("j")).count()
        // all nine inputs (3 counts, 4 register censuses, 2 exact joins)
        // are independent actions — overlapped (guide §2.6, r21)
        val Seq(nC, nO, nL, ndvC, ndvOc, ndvOk, ndvL, trueCO, trueOL) =
          graft.ops.Par.run(Seq[() => Long](
            () => c.count(), () => o.count(), () => l.count(),
            () => ndv(c, "c_custkey"), () => ndv(o, "o_custkey"),
            () => ndv(o, "o_orderkey"), () => ndv(l, "l_orderkey"),
            () => trueJoin(c, "c_custkey", o, "o_custkey"),
            () => trueJoin(o, "o_orderkey", l, "l_orderkey")), maxThreads = 9)
        def est(nA: Long, nB: Long, dA: Long, dB: Long): Long =
          (BigInt(nA) * BigInt(nB) / BigInt(math.max(dA, dB))).toLong
        val estCO = est(nC, nO, ndvC, ndvOc)
        val estOL = est(nO, nL, ndvOk, ndvL)
        def errBp(e: Long, t: Long): Long = (BigInt(e - t) * 10000 / BigInt(t)).toLong
        val chosen = if (estCO <= estOL) "customer_orders_first" else "orders_lineitem_first"
        val optimal = if (trueCO <= trueOL) "customer_orders_first" else "orders_lineitem_first"
        Seq((nC, nO, nL, estCO, estOL, trueCO, trueOL,
          errBp(estCO, trueCO), errBp(estOL, trueOL), chosen, optimal, chosen == optimal))
          .toDF("n_customer", "n_orders", "n_lineitem", "est_co_rows", "est_ol_rows",
            "true_co_rows", "true_ol_rows", "err_co_bp", "err_ol_bp",
            "chosen_first", "optimal_first", "choice_ok")
          .orderBy("n_customer")
      },
      Some {
        import graft.oracle.OracleSql.{hllEstimateOverRegs, hllRegs}
        def estSql(nA: String, nB: String, dA: String, dB: String) =
          s"CAST(CAST($nA AS HUGEINT) * $nB // greatest($dA, $dB) AS BIGINT)"
        s"""WITH m AS (SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_customer,
            (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
            (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_lineitem,
            ${hllEstimateOverRegs(hllRegs("customer", "c_custkey"))} AS ndv_c,
            ${hllEstimateOverRegs(hllRegs("orders", "o_custkey"))} AS ndv_oc,
            ${hllEstimateOverRegs(hllRegs("orders", "o_orderkey"))} AS ndv_ok,
            ${hllEstimateOverRegs(hllRegs("lineitem", "l_orderkey"))} AS ndv_l,
            (SELECT CAST(count(*) AS BIGINT) FROM customer c
              JOIN orders o ON c.c_custkey = o.o_custkey) AS true_co_rows,
            (SELECT CAST(count(*) AS BIGINT) FROM orders o
              JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS true_ol_rows),
          e AS (SELECT *,
            ${estSql("n_customer", "n_orders", "ndv_c", "ndv_oc")} AS est_co_rows,
            ${estSql("n_orders", "n_lineitem", "ndv_ok", "ndv_l")} AS est_ol_rows
            FROM m)
          SELECT n_customer, n_orders, n_lineitem, est_co_rows, est_ol_rows,
            true_co_rows, true_ol_rows,
            CAST((CAST(est_co_rows AS HUGEINT) - true_co_rows) * 10000
              // true_co_rows AS BIGINT) AS err_co_bp,
            CAST((CAST(est_ol_rows AS HUGEINT) - true_ol_rows) * 10000
              // true_ol_rows AS BIGINT) AS err_ol_bp,
            CASE WHEN est_co_rows <= est_ol_rows THEN 'customer_orders_first'
              ELSE 'orders_lineitem_first' END AS chosen_first,
            CASE WHEN true_co_rows <= true_ol_rows THEN 'customer_orders_first'
              ELSE 'orders_lineitem_first' END AS optimal_first,
            (CASE WHEN est_co_rows <= est_ol_rows THEN 'customer_orders_first'
              ELSE 'orders_lineitem_first' END) =
            (CASE WHEN true_co_rows <= true_ol_rows THEN 'customer_orders_first'
              ELSE 'orders_lineitem_first' END) AS choice_ok
          FROM e ORDER BY n_customer"""
      }
    ),
    // q215: NDV of a PRUNED scope — the two stat tables COMPOSED at
    // plan time (what a real planner does): s52's col_stats range
    // pruning picks the surviving files, q212's col_ndv registers
    // (merged over ONLY those files) estimate the scope's distinct
    // customers — no data file opened on the estimate path. Audited
    // in-hash for scopes 'all' and 'pruned': est-vs-exact err_bp and
    // regs_match (the HLL merge property holding on a pruned SUBSET).
    // Full lifecycle + scale shape: SnapshotLog.prunedScopeNdv scaladoc.
    Q(
      "q215_pruned_scope_ndv",
      (s, dir) => graft.sinks.SnapshotLog.prunedScopeNdv(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllBucket, hllEstimate, hllRank, hllSH}
        s"""WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
              CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
              CAST(o_custkey AS BIGINT) AS cust FROM orders),
          b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM o),
          p AS (SELECT mn, (mx - mn) // 4 + 1 AS bw FROM b),
          pr AS (SELECT mn, bw, mn + bw // 2 AS lo, mn + bw - 1 AS hi FROM p),
          g AS (SELECT o.cust, o.cents, (o.cents - pr.mn) // pr.bw AS grp
            FROM o, pr),
          fs AS (SELECT grp, min(cents) AS fmn, max(cents) AS fmx
            FROM g GROUP BY 1),
          surv AS (SELECT fs.grp FROM fs, pr
            WHERE fs.fmx >= pr.lo AND fs.fmn <= pr.hi),
          scopes AS (SELECT 'all' AS scope, grp FROM fs
            UNION ALL SELECT 'pruned', grp FROM surv),
          rws AS (SELECT s.scope, g.cust FROM scopes s JOIN g ON g.grp = s.grp),
          hh AS (SELECT scope, ${h60("CAST(cust AS VARCHAR)")} AS h FROM rws),
          regs AS (SELECT scope, ${hllBucket("h")} AS bucket,
              CAST(max(${hllRank("h")}) AS BIGINT) AS mr
            FROM hh GROUP BY 1, 2),
          sh AS (SELECT scope, $hllSH AS s_h FROM regs GROUP BY 1),
          est AS (SELECT scope, ${hllEstimate("s_h")} AS est_ndv FROM sh),
          ex AS (SELECT scope, CAST(count(DISTINCT cust) AS BIGINT) AS exact_ndv
            FROM rws GROUP BY 1),
          nf AS (SELECT scope, CAST(count(*) AS BIGINT) AS n_files
            FROM scopes GROUP BY 1)
          SELECT est.scope, nf.n_files, est.est_ndv, ex.exact_ndv,
            abs(est.est_ndv - ex.exact_ndv) * 10000 // ex.exact_ndv AS err_bp,
            TRUE AS regs_match, TRUE AS composed_ok
          FROM est JOIN ex ON est.scope = ex.scope
          JOIN nf ON est.scope = nf.scope
          ORDER BY est.scope"""
      }
    ),
    // q216: estimator-driven BROADCAST decision audit — the third
    // planner decision after cardinality (q210/q212) and order (q214):
    // whether a join side fits a broadcast. The size model is metadata
    // (projected key rows × 8 bytes); the broadcast BUDGET is derived
    // from the probe side (est_probe_bytes div 4 — scale-free, so the
    // two dims land on opposite sides of it at EVERY SF: customer is
    // 1/10 of orders, lineitem 4×), and that budget is handed to
    // Spark's OWN planner as autoBroadcastJoinThreshold (on a derived
    // session). The audit is the EXECUTED PLAN SHAPE, structurally:
    // orders⋈customer must plan a BroadcastHashJoin and zero shuffles;
    // orders⋈lineitem must plan zero broadcasts and shuffle both sides
    // — both counts in-hash, plus decision_ok pinning that the plan
    // agreed with the model on both joins.
    //
    // Scale shape: the decision inputs are manifest-class metadata
    // (row counts); the joins execute only as this entry's audit layer
    // and the census on each is one partial-agg rollup.
    Q(
      "q216_broadcast_decision",
      (s, dir) => {
        import s.implicits._
        import graft.ops.BucketedJoin.{countBroadcastHashJoins, countShuffles}
        def rels(ss: SparkSession) = (
          Tables.orders(ss, dir).select(col("o_custkey").cast("long").as("ck"),
            col("o_orderkey").cast("long").as("ok")),
          Tables.customer(ss, dir).select(col("c_custkey").cast("long").as("ck")),
          Tables.lineitem(ss, dir).select(col("l_orderkey").cast("long").as("ok")))
        val (nO, nC, nL) = { val (o, c, l) = rels(s); (o.count(), c.count(), l.count()) }
        val budget = nO * 8L / 4L // the size model's broadcast budget
        val (custBytes, lineBytes) = (nC * 8L, nL * 8L)
        val (o, c, l) = rels(graft.GraftSession.derive(s,
          "spark.sql.autoBroadcastJoinThreshold" -> budget.toString,
          "spark.sql.adaptive.enabled" -> "false"))
        val jc = o.join(c, Seq("ck")).select(col("ok"))
        val jl = o.join(l, Seq("ok")).select(col("ck"))
        val (bhjC, shC) = (countBroadcastHashJoins(jc), countShuffles(jc))
        val (bhjL, shL) = (countBroadcastHashJoins(jl), countShuffles(jl))
        val (censusC, censusL) =
          (jc.agg(count(lit(1))).head().getLong(0), jl.agg(count(lit(1))).head().getLong(0))
        Seq((nO, nC, nL, budget, custBytes, lineBytes,
          censusC, censusL, bhjC, shC, bhjL, shL,
          bhjC == 1L && shC == 0L && bhjL == 0L && shL == 2L))
          .toDF("n_orders", "n_customer", "n_lineitem", "budget_bytes",
            "cust_bytes", "line_bytes", "n_join_cust", "n_join_line",
            "bhj_cust", "shuffles_cust", "bhj_line", "shuffles_line",
            "decision_ok")
          .orderBy("n_orders")
      },
      Some("""WITH m AS (SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
            (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_customer,
            (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_lineitem,
            (SELECT CAST(count(*) AS BIGINT) FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey) AS n_join_cust,
            (SELECT CAST(count(*) AS BIGINT) FROM orders o
              JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS n_join_line)
          SELECT n_orders, n_customer, n_lineitem,
            CAST(n_orders * 8 // 4 AS BIGINT) AS budget_bytes,
            CAST(n_customer * 8 AS BIGINT) AS cust_bytes,
            CAST(n_lineitem * 8 AS BIGINT) AS line_bytes,
            n_join_cust, n_join_line,
            CAST(1 AS BIGINT) AS bhj_cust, CAST(0 AS BIGINT) AS shuffles_cust,
            CAST(0 AS BIGINT) AS bhj_line, CAST(2 AS BIGINT) AS shuffles_line,
            TRUE AS decision_ok
          FROM m ORDER BY n_orders""")
    ),
    // q217: sketch-based UNION / OVERLAP sizing — the dedup-planning
    // question ("how many unique keys across two sources; how big is
    // their overlap") answered from MERGEABLE register sketches before
    // any data moves: |A∪B| from the per-bucket max-merge of the two
    // relations' register sets (the HLL merge property ACROSS
    // relations), |A∩B| by inclusion–exclusion (est_A + est_B −
    // est_union — the classic trick whose noise AMPLIFIES on small
    // overlaps, which is exactly why the measured signed err_bp
    // belongs in the record). Audited against exact union/intersection
    // counts for two key pairs: orders.custkey vs customer.custkey
    // (containment: orders' customers ⊆ customer) and orders.orderkey
    // vs lineitem.orderkey (FK: intersection = every order key).
    // Integer BigInt/HUGEINT throughout — both engines land identical
    // estimates.
    //
    // Scale shape: four ≤64-cell register censuses + two union merges
    // of ≤64 rows; at 100 TB the registers ride q212's col_ndv table
    // and the exact sides exist only as this entry's audit layer.
    Q(
      "q217_sketch_overlap_sizing",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Hll
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val l = Tables.lineitem(s, dir)
        def keyed(df: org.apache.spark.sql.DataFrame, key: String) =
          df.select(col(key).cast("long").as("j"))
        val sides = Seq(
          ("custkey_o_c", "a", o, "o_custkey"),
          ("custkey_o_c", "b", c, "c_custkey"),
          ("orderkey_o_l", "a", o, "o_orderkey"),
          ("orderkey_o_l", "b", l, "l_orderkey"))
        // ONE register-census job for all four (pair, side) relations
        // (previously one job each — guide §2.4); identical registers:
        // same h60 over the same cast strings, per-(pair, side) bucket
        // max. The stats job and each pair's exact tagged-distinct pass
        // are independent — overlapped (guide §2.6, r21).
        def regsJob(): Map[(String, String), Seq[(Long, Long)]] = sides
          .map { case (p, sd, df, key) =>
            df.select(lit(p).as("p"), lit(sd).as("sd"),
              graft.ops.Hashing.h60(col(key).cast("long").cast("string")).as("h"))
          }
          .reduce(_ unionByName _)
          .select(col("p"), col("sd"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
          .groupBy("p", "sd", "bucket").agg(max("rk").as("mr"))
          .collect() // ≤ 4·64 register cells — sketch metadata
          .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
          .groupBy(_._1)
          .map { case (k2, cells) => (k2, cells.map(_._2).toSeq.sortBy(_._1)) }
        def exactPair(
            a: org.apache.spark.sql.DataFrame, ka: String,
            b: org.apache.spark.sql.DataFrame, kb: String): (Long, Long) = {
          // exact union AND intersection from ONE tagged-distinct pass:
          // |A∪B| = the distinct-key group count, |A∩B| = groups present
          // on both sides — identical to the union-distinct count and
          // the distinct semi-join count (previously two jobs)
          val ex = keyed(a, ka).select(col("j"), lit(1).as("ta"), lit(0).as("tb"))
            .unionByName(keyed(b, kb).select(col("j"), lit(0).as("ta"), lit(1).as("tb")))
            .groupBy("j").agg(max("ta").as("ha"), max("tb").as("hb"))
            .agg(count(lit(1)),
              sum(when(col("ha") === 1 && col("hb") === 1, 1L).otherwise(0L))).head()
          (ex.getLong(0), ex.getLong(1))
        }
        val (regsAll, exacts) = graft.ops.Par.run2(
          () => regsJob(),
          () => graft.ops.Par.run(Seq(
            () => exactPair(o, "o_custkey", c, "c_custkey"),
            () => exactPair(o, "o_orderkey", l, "l_orderkey"))))
        def pair(
            name: String,
            exact: (Long, Long)) = {
          // empty-side default: an absent (pair, side) group means that
          // side had zero rows — the old per-side registerCensus
          // returned Seq.empty there, not a NoSuchElementException
          // (ADVICE r20)
          val (ra, rb) = (regsAll.getOrElse((name, "a"), Seq.empty),
            regsAll.getOrElse((name, "b"), Seq.empty))
          val (eA, eB) = (Hll.estimateInt(ra), Hll.estimateInt(rb))
          val eU = Hll.estimateInt(Hll.mergeRegisters(ra, rb))
          val eI = eA + eB - eU // inclusion–exclusion
          val (exU, exI) = exact
          (name, eA, eB, eU, exU,
            (BigInt(eU - exU) * 10000 / BigInt(exU)).toLong,
            eI, exI, (BigInt(eI - exI) * 10000 / BigInt(exI)).toLong)
        }
        Seq(
          pair("custkey_o_c", exacts(0)),
          pair("orderkey_o_l", exacts(1)))
          .toDF("pair", "est_left", "est_right", "est_union", "exact_union",
            "err_union_bp", "est_intersect", "exact_intersect", "err_intersect_bp")
          .orderBy("pair")
      },
      Some {
        import graft.oracle.OracleSql.{hllEstimate, hllRegs, hllSH}
        def estOver(regs: String) =
          s"(SELECT ${hllEstimate(hllSH)} FROM ($regs))"
        def unionRegs(a: String, b: String) =
          s"""SELECT bucket, max(mr) AS mr FROM
             (SELECT * FROM ($a) UNION ALL SELECT * FROM ($b)) GROUP BY bucket"""
        def pairSql(name: String, relA: String, ka: String, relB: String, kb: String) = {
          val (ra, rb) = (hllRegs(relA, ka), hllRegs(relB, kb))
          s"""SELECT '$name' AS pair,
              ${estOver(ra)} AS est_left, ${estOver(rb)} AS est_right,
              ${estOver(unionRegs(ra, rb))} AS est_union,
              (SELECT CAST(count(*) AS BIGINT) FROM
                (SELECT $ka AS j FROM $relA UNION SELECT $kb FROM $relB))
                AS exact_union,
              (SELECT CAST(count(*) AS BIGINT) FROM
                (SELECT DISTINCT $ka AS j FROM $relA
                 INTERSECT SELECT DISTINCT $kb FROM $relB)) AS exact_intersect"""
        }
        s"""WITH p1 AS (${pairSql("custkey_o_c", "orders", "o_custkey", "customer", "c_custkey")}),
          p2 AS (${pairSql("orderkey_o_l", "orders", "o_orderkey", "lineitem", "l_orderkey")}),
          u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
          SELECT pair, est_left, est_right, est_union, exact_union,
            CAST((CAST(est_union AS HUGEINT) - exact_union) * 10000
              // exact_union AS BIGINT) AS err_union_bp,
            CAST(est_left + est_right - est_union AS BIGINT) AS est_intersect,
            exact_intersect,
            CAST((CAST(est_left AS HUGEINT) + est_right - est_union
                - exact_intersect) * 10000 // exact_intersect AS BIGINT)
              AS err_intersect_bp
          FROM u ORDER BY pair"""
      }
    ),
    // q218: heavy-hitter (skew) statistics → AUTOMATIC salted-join
    // decision — the fourth planner decision from the long-form stat
    // table (q212 cardinality → q214 order → q216 broadcast → q218
    // skew). Per-file top-8 frequency rows (col_topk) + NDV registers
    // (col_ndv) + manifest counts decide, metadata-only, whether each
    // join key is hot enough to salt (skew_x100 = top1·100·ndv/n ≥
    // 800); the chosen plan executes and is audited structurally
    // (gen_nodes: the salted path's small-side replication is exactly
    // one Generate node), salted ≡ plain census equality, the
    // per-(key, salt) load split, and the stat-table top-1 vs the
    // exact heaviest key all ride the hash. Full lifecycle + scale
    // shape: SnapshotLog.skewSaltDecision scaladoc.
    Q(
      "q218_skew_salt_decision",
      (s, dir) => graft.sinks.SnapshotLog.skewSaltDecision(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllBucket, hllEstimate, hllRank, hllSH}
        s"""WITH b AS (SELECT l_orderkey % 4 AS g,
            CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
              ELSE CAST(l_partkey AS BIGINT) END AS pk_skew,
            CAST(l_partkey AS BIGINT) AS pk_unif,
            CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS rid,
            CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem),
          kv AS (SELECT g, 'pk_skew' AS cn, pk_skew AS k, rid FROM b
            UNION ALL SELECT g, 'pk_unif', pk_unif, rid FROM b),
          pf AS (SELECT g, cn, k, CAST(count(*) AS BIGINT) AS c
            FROM kv GROUP BY 1, 2, 3),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM b),
          tk AS (SELECT g, cn, k, c FROM (SELECT g, cn, k, c, row_number()
              OVER (PARTITION BY g, cn ORDER BY c DESC, k) AS rn FROM pf)
            WHERE rn <= 8),
          mg AS (SELECT cn, k, CAST(sum(c) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
          t1 AS (SELECT cn, k AS top1_key, c AS top1_cnt FROM (SELECT cn, k, c,
              row_number() OVER (PARTITION BY cn ORDER BY c DESC, k) AS rn FROM mg)
            WHERE rn = 1),
          th AS (SELECT g, cn, CAST(CASE WHEN count(*) >= 8 THEN min(c)
              ELSE 0 END AS BIGINT) AS th FROM tk GROUP BY 1, 2),
          tt AS (SELECT cn, CAST(sum(th) AS BIGINT) AS total_th FROM th GROUP BY 1),
          ub AS (SELECT m.cn, m.k, m.c + CAST(coalesce(
              (SELECT sum(t.th) FROM th t WHERE t.cn = m.cn
                AND NOT EXISTS (SELECT 1 FROM tk
                  WHERE tk.g = t.g AND tk.cn = m.cn AND tk.k = m.k)),
              0) AS BIGINT) AS ub FROM mg m),
          rel AS (SELECT t1.cn, (t1.top1_cnt >= tt.total_th AND NOT EXISTS
              (SELECT 1 FROM ub WHERE ub.cn = t1.cn AND ub.k <> t1.top1_key
                AND ub.ub > t1.top1_cnt)) AS top1_reliable
            FROM t1 JOIN tt ON t1.cn = tt.cn),
          hh AS (SELECT DISTINCT cn, ${h60("CAST(k AS VARCHAR)")} AS h FROM pf),
          regs AS (SELECT cn, ${hllBucket("h")} AS bucket,
              CAST(max(${hllRank("h")}) AS BIGINT) AS mr FROM hh GROUP BY 1, 2),
          nd AS (SELECT cn, ${hllEstimate("s_h")} AS ndv FROM
            (SELECT cn, $hllSH AS s_h FROM regs GROUP BY cn)),
          gk AS (SELECT cn, k, CAST(sum(c) AS BIGINT) AS c FROM pf GROUP BY 1, 2),
          ex AS (SELECT cn, k AS top1_key_exact, c AS max_group FROM (SELECT cn, k, c,
              row_number() OVER (PARTITION BY cn ORDER BY c DESC, k) AS rn FROM gk)
            WHERE rn = 1),
          ms AS (SELECT cn, CAST(max(c) AS BIGINT) AS max_salt FROM
            (SELECT cn, k, ${h60("CAST(rid AS VARCHAR)")} % 8 AS s,
              count(*) AS c FROM kv GROUP BY 1, 2, 3) GROUP BY cn),
          j1 AS (SELECT 'pk_skew' AS cn, CAST(count(*) AS BIGINT) AS n_join,
              CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM b JOIN part ON pk_skew = p_partkey),
          j2 AS (SELECT 'pk_unif' AS cn, CAST(count(*) AS BIGINT) AS n_join,
              CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM b JOIN part ON pk_unif = p_partkey),
          jn AS (SELECT * FROM j1 UNION ALL SELECT * FROM j2),
          d AS (SELECT t1.cn, n.n_rows, nd.ndv AS ndv_est, t1.top1_key,
              t1.top1_cnt,
              CAST(CAST(t1.top1_cnt AS HUGEINT) * 100 * nd.ndv
                // n.n_rows AS BIGINT) AS skew_x100
            FROM t1 JOIN nd ON t1.cn = nd.cn CROSS JOIN n)
          SELECT d.cn AS edge, d.n_rows, d.ndv_est, d.top1_key, d.top1_cnt,
            rel.top1_reliable,
            d.skew_x100, d.skew_x100 >= 800 AS salted, jn.n_join, jn.sum_cents,
            TRUE AS census_match,
            CAST(CASE WHEN d.skew_x100 >= 800 THEN 1 ELSE 0 END AS BIGINT)
              AS gen_nodes,
            ex.max_group, ms.max_salt AS max_salt_group, ex.top1_key_exact,
            (d.top1_key = ex.top1_key_exact AND d.top1_cnt = ex.max_group)
              AS top1_is_exact,
            TRUE AS plan_ok
          FROM d JOIN jn ON d.cn = jn.cn JOIN ex ON d.cn = ex.cn
          JOIN ms ON d.cn = ms.cn JOIN rel ON d.cn = rel.cn
          ORDER BY edge"""
      }
    ),
    // q219: ESTIMATOR REGRESSION HARNESS — the planner-decision entries
    // (q212/q214/q215/q216/q218) each pin ONE scenario; this entry
    // sweeps the SAME estimator (|A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B)
    // over integer HLL inputs) across six (n_left, n_right, ndv, overlap)
    // regimes from derived relations, recording the signed err_bp per
    // regime in-hash — estimator drift is caught here as a hash change,
    // by regime name, instead of discovered inside a decision entry.
    // The regimes bracket the formula's behavior: PK–FK both directions
    // (the assumption holds), dense low-cardinality (containment holds,
    // HLL small-range bias visible), sentinel skew (the q218 hot key —
    // the independence assumption's miss is bounded by containment),
    // sparse overlap (containment still holds), and DISJOINT keys (the
    // formula has no overlap term — the known blind spot, recorded as a
    // huge stable signed error, err vs max(true, 1)). Integer
    // BigInt/HUGEINT throughout — both engines land identical rows.
    //
    // Scale shape: per regime two ≤64-cell register censuses + two
    // counts on the estimate side; the true joins exist only as this
    // entry's audit layer (and the join RESULTS are never materialized —
    // each is one streamed count).
    Q(
      "q219_estimator_regression",
      (s, dir) => {
        import s.implicits._
        import graft.ops.Hll
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val c = Tables.customer(s, dir)
        val p = Tables.part(s, dir)
        def keyed(df: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.Column) =
          df.select(e.cast("long").as("k"))
        val regimes = Seq(
          ("r1_pk_fk", keyed(o, col("o_orderkey")), keyed(l, col("l_orderkey"))),
          ("r2_fk_pk", keyed(o, col("o_custkey")), keyed(c, col("c_custkey"))),
          ("r3_dense_lowcard",
            keyed(o, col("o_custkey") % 100), keyed(c, col("c_custkey") % 100)),
          ("r4_sentinel_skew",
            keyed(l, when(col("l_returnflag") === "R", lit(1L))
              .otherwise(col("l_partkey"))), keyed(p, col("p_partkey"))),
          ("r5_sparse_overlap", keyed(o, col("o_orderkey")),
            keyed(l.filter(col("l_orderkey") % 16 === 0), col("l_orderkey"))),
          ("r6_disjoint", keyed(o, col("o_orderkey")),
            keyed(o, col("o_orderkey") + 1000000000L)))
        // ONE stats job for all 12 (regime, side) frames: each side's
        // row count and register census come from the same per-bucket
        // aggregation (count = Σ per-bucket counts, registers =
        // per-bucket max rank — identical to count() + registerCensus
        // per side, previously 24 separate jobs; guide §2.4). The six
        // exact join counts stay as the declared audit layer.
        import graft.ops.Hashing
        // the stats union job and the six exact join counts are all
        // independent actions — overlapped (guide §2.6, r21): the six
        // audit joins back-fill each other's straggler tails instead of
        // running end-to-end after the stats job
        val (sideStats, trues) = graft.ops.Par.run2(
          () => regimes
            .flatMap { case (name, ldf, rdf) =>
              Seq((name, "l", ldf), (name, "r", rdf))
            }
            .map { case (name, side, df) =>
              df.select(lit(name).as("regime"), lit(side).as("side"),
                Hashing.h60(col("k").cast("string")).as("h"))
            }
            .reduce(_ unionByName _)
            .select(col("regime"), col("side"),
              Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
            .groupBy("regime", "side", "bucket")
            .agg(max("rk").as("mr"), count(lit(1)).as("n"))
            .collect() // ≤ 12·64 register cells — sketch metadata
            .map(r => ((r.getString(0), r.getString(1)),
              (r.getLong(2), r.getLong(3), r.getLong(4))))
            .groupBy(_._1)
            .map { case (key, cells) =>
              (key, (cells.map(_._2._3).sum,
                cells.map { case (_, (b, mr, _)) => (b, mr) }.toSeq.sortBy(_._1)))
            },
          () => graft.ops.Par.run(regimes.map { case (_, ldf, rdf) =>
            () => ldf.join(rdf, Seq("k")).count()
          }))
        regimes.zip(trues).map { case ((name, _, _), tru) =>
          // absent group = empty side: 0 rows / empty registers, the old
          // per-side count()/registerCensus semantics (ADVICE r20)
          val empty = (0L, Seq.empty[(Long, Long)])
          val (nL, regsL) = sideStats.getOrElse((name, "l"), empty)
          val (nR, regsR) = sideStats.getOrElse((name, "r"), empty)
          val ndvL = Hll.estimateInt(regsL)
          val ndvR = Hll.estimateInt(regsR)
          val est = (BigInt(nL) * BigInt(nR) / BigInt(math.max(ndvL, ndvR))).toLong
          val err = (BigInt(est - tru) * 10000 / BigInt(math.max(tru, 1L))).toLong
          (name, nL, nR, ndvL, ndvR, est, tru, err)
        }
          .toDF("regime", "n_left", "n_right", "ndv_left", "ndv_right",
            "est_rows", "true_rows", "err_bp")
          .orderBy("regime")
      },
      Some {
        import graft.oracle.OracleSql.{hllEstimateOverRegs, hllRegs}
        def reg(name: String, lcte: String, rcte: String) =
          s"""SELECT '$name' AS regime,
            (SELECT CAST(count(*) AS BIGINT) FROM $lcte) AS n_left,
            (SELECT CAST(count(*) AS BIGINT) FROM $rcte) AS n_right,
            ${hllEstimateOverRegs(hllRegs(lcte, "k"))} AS ndv_left,
            ${hllEstimateOverRegs(hllRegs(rcte, "k"))} AS ndv_right,
            (SELECT CAST(count(*) AS BIGINT) FROM $lcte a
              JOIN $rcte b ON a.k = b.k) AS true_rows"""
        s"""WITH lo AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
          ll AS (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem),
          oc AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
          cc AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
          om AS (SELECT CAST(o_custkey % 100 AS BIGINT) AS k FROM orders),
          cm AS (SELECT CAST(c_custkey % 100 AS BIGINT) AS k FROM customer),
          lsk AS (SELECT CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
              ELSE CAST(l_partkey AS BIGINT) END AS k FROM lineitem),
          pp AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
          lsp AS (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem
            WHERE l_orderkey % 16 = 0),
          od AS (SELECT CAST(o_orderkey + 1000000000 AS BIGINT) AS k FROM orders),
          u AS (${reg("r1_pk_fk", "lo", "ll")}
            UNION ALL ${reg("r2_fk_pk", "oc", "cc")}
            UNION ALL ${reg("r3_dense_lowcard", "om", "cm")}
            UNION ALL ${reg("r4_sentinel_skew", "lsk", "pp")}
            UNION ALL ${reg("r5_sparse_overlap", "lo", "lsp")}
            UNION ALL ${reg("r6_disjoint", "lo", "od")}),
          e AS (SELECT *, CAST(CAST(n_left AS HUGEINT) * n_right
              // greatest(ndv_left, ndv_right) AS BIGINT) AS est_rows FROM u)
          SELECT regime, n_left, n_right, ndv_left, ndv_right, est_rows,
            true_rows,
            CAST((CAST(est_rows AS HUGEINT) - true_rows) * 10000
              // greatest(true_rows, 1) AS BIGINT) AS err_bp
          FROM e ORDER BY regime"""
      }
    ),
    // q220: COUNT-MIN rows in the long-form stat table — q218's
    // declared 100 TB scale path made real: 4·64 additive counters per
    // (file, column) answer the point frequency of ANY key (col_topk
    // answers only the hottest few), merge across files EXACTLY by
    // cell-wise sum, and err one-sided (never under). Probed in-hash
    // for the hot sentinel key, a typical key, and an absent key:
    // est vs exact (signed over_bp), the deterministic f̂ ≥ f
    // guarantee, and q218's skew decision recomputed FROM the sketch.
    // Full lifecycle + scale shape: SnapshotLog.cmsFrequencyStats
    // scaladoc.
    Q(
      "q220_cms_frequency_stats",
      (s, dir) => graft.sinks.SnapshotLog.cmsFrequencyStats(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllEstimateOverRegs, hllRegs}
        val cellH = h60("CAST(r.i AS VARCHAR) || ':' || CAST(pk.k AS VARCHAR)")
        val probeH = h60("CAST(r.i AS VARCHAR) || ':' || CAST(p.key AS VARCHAR)")
        s"""WITH b AS (SELECT l_orderkey % 4 AS g,
            CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
              ELSE CAST(l_partkey AS BIGINT) END AS k
          FROM lineitem),
          pk AS (SELECT g, k, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM b),
          rws AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS i),
          cells AS (SELECT pk.g, r.i, $cellH % 64 AS j, pk.c
            FROM pk CROSS JOIN rws r),
          sr AS (SELECT CAST(count(*) AS BIGINT) AS n_stat_rows FROM
            (SELECT DISTINCT i, j FROM cells)),
          mg AS (SELECT i, j, CAST(sum(c) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2),
          probes AS (SELECT unnest(['hot_sentinel', 'typical', 'absent']) AS probe,
            CAST(unnest([1, 5, 999999937]) AS BIGINT) AS key),
          pc AS (SELECT p.probe, p.key, r.i, $probeH % 64 AS j
            FROM probes p CROSS JOIN rws r),
          pv AS (SELECT pc.probe, pc.key,
              CAST(coalesce(mg.cnt, 0) AS BIGINT) AS v
            FROM pc LEFT JOIN mg ON mg.i = pc.i AND mg.j = pc.j),
          pe AS (SELECT probe, key, CAST(min(v) AS BIGINT) AS cms_est
            FROM pv GROUP BY 1, 2),
          tc AS (SELECT p.probe, CAST(coalesce(
              (SELECT sum(c) FROM pk WHERE pk.k = p.key), 0) AS BIGINT)
              AS true_cnt FROM probes p),
          nd AS (SELECT ${hllEstimateOverRegs(hllRegs("b", "k"))} AS ndv),
          sk AS (SELECT CAST(CAST(pe.cms_est AS HUGEINT) * 100 * nd.ndv
              // n.n_rows AS BIGINT) AS skew_cms_x100
            FROM pe CROSS JOIN nd CROSS JOIN n WHERE pe.probe = 'hot_sentinel')
          SELECT pe.probe, pe.key, tc.true_cnt, pe.cms_est,
            CAST((CAST(pe.cms_est AS HUGEINT) - tc.true_cnt) * 10000
              // greatest(tc.true_cnt, 1) AS BIGINT) AS over_bp,
            pe.cms_est >= tc.true_cnt AS ge_ok,
            n.n_rows, sr.n_stat_rows, sk.skew_cms_x100,
            sk.skew_cms_x100 >= 800 AS salted_cms, TRUE AS live_log
          FROM pe JOIN tc ON pe.probe = tc.probe
          CROSS JOIN n CROSS JOIN sr CROSS JOIN sk
          ORDER BY pe.probe"""
      }
    ),
    // q221: the COMPOSED join-strategy decision — the planner-decision
    // family's capstone: one decision TREE over the same stat inputs
    // (row counts → size model, top-1 frequency + NDV → skew ratio)
    // routes three engineered edges to three different physical
    // strategies, and each EXECUTED plan is audited structurally:
    //   build fits the budget (probe bytes div 4 — q216's proven size
    //     model) → BROADCAST (Spark's own planner, handed the budget —
    //     1 BHJ / 0 shuffles);
    //   too big + probe key skewed (q218's ≥ 800 ratio; the sentinel
    //     hot key) → SALTED (0 BHJ / 2 shuffles / 1 Generate);
    //   too big + flat → plain SHUFFLE SMJ (0 / 2 / 0).
    // customer at 1/10 of orders vs the div-4 budget, lineitem at ~4× —
    // the three routings hold at every SF by construction. Censuses,
    // the decision inputs, and all three plan shapes ride the hash.
    // At 100 TB the inputs are col_ndv/col_topk/col_cms + manifest
    // rows (q212/q218/q220); here they are direct censuses — the
    // audit layer — so the entry stays staging-free. The tree's FOURTH
    // branch (build-side skew → the broadcast-hot-keys split) lives in
    // the persisted variant q222 (edge e4) and standalone in q226 —
    // it needs the col_cms family, so it belongs to the staged path.
    //
    // Scale shape: decision inputs are one map-side-combined groupBy
    // per probe key + counts; each executed join is one streamed
    // census; nothing is materialized.
    Q(
      "q221_join_strategy_decision",
      (s, dir) => {
        import s.implicits._
        import graft.ops.{BucketedJoin, Hashing, Hll, Salting}
        val probeCust = (ss: SparkSession) => Tables.orders(ss, dir).select(
          col("o_custkey").cast("long").as("k"),
          col("o_orderkey").cast("long").as("rid"))
        val probeFlat = (ss: SparkSession) => Tables.orders(ss, dir).select(
          col("o_orderkey").cast("long").as("k"),
          col("o_orderkey").cast("long").as("rid"))
        // the sentinel hot key: ~half the orders (status 'F') resolve
        // to order 1 — q218's unknown-member pattern on the join key
        val probeSkew = (ss: SparkSession) => Tables.orders(ss, dir).select(
          when(col("o_orderstatus") === "F", lit(1L))
            .otherwise(col("o_orderkey").cast("long")).as("k"),
          col("o_orderkey").cast("long").as("rid"))
        val buildCust = (ss: SparkSession) =>
          Tables.customer(ss, dir).select(col("c_custkey").cast("long").as("bk"))
        val buildLine = (ss: SparkSession) =>
          Tables.lineitem(ss, dir).select(col("l_orderkey").cast("long").as("bk"))

        locally {
          // the two build-side counts, computed once and shared by the
          // three edges (e2/e3 share lineitem — previously one count
          // job per edge; r20, §2.4), overlapped with the fused probe
          // stats below (guide §2.6)
          // ALL THREE edges' probe stats from ONE pass over orders
          // (r21, guide §2.4 — previously one per-key aggregation scan
          // PER EDGE): the explode emits exactly one (edge, key) struct
          // per edge per row, so the per-(edge, key) counts equal each
          // edge's own groupBy(k) counts; nP = Σc, top1 = max c, and
          // registers over the distinct keys equal registers over the
          // raw rows (per-bucket MAX is duplicate-insensitive).
          def probeStatsAll(): Map[String, (Long, Long, Long)] = {
            val perEK = Tables.orders(s, dir)
              .select(explode(array(
                struct(lit("e1").as("e"), col("o_custkey").cast("long").as("k")),
                struct(lit("e2").as("e"), col("o_orderkey").cast("long").as("k")),
                struct(lit("e3").as("e"),
                  when(col("o_orderstatus") === "F", lit(1L))
                    .otherwise(col("o_orderkey").cast("long")).as("k")))).as("ek"))
              .groupBy(col("ek.e").as("e"), col("ek.k").as("k"))
              .agg(count(lit(1)).as("c")).persist()
            try {
              val (aggRows, regRows) = graft.ops.Par.run2(
                () => perEK.groupBy("e")
                  .agg(sum(col("c")).as("n"), max(col("c")).as("t1"))
                  .collect() // 3 rows — decision metadata
                  .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap,
                () => perEK
                  .select(col("e"), Hashing.h60(col("k").cast("string")).as("h"))
                  .select(col("e"), Hll.bucketCol.as("bucket"), Hll.rankCol.as("rk"))
                  .groupBy("e", "bucket").agg(max("rk").as("mr"))
                  .collect() // ≤ 3·64 register cells — sketch metadata
                  .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
                  .groupBy(_._1).view
                  .mapValues(cs => Hll.estimateInt(cs.map(_._2).toSeq)).toMap)
              aggRows.map { case (e, (n, t1)) => (e, (n, t1, regRows(e))) }
            } finally { perEK.unpersist(); () }
          }
          val (probeStatsByEdge, (nBC, nBL)) = graft.ops.Par.run2(
            () => probeStatsAll(),
            () => graft.ops.Par.run2(
              () => buildCust(s).count(), () => buildLine(s).count()))
          // each edge decides, then runs on its OWN derived session with
          // AQE off and its own broadcast threshold, so the three
          // independent edges OVERLAP
          def edgeRow(edge: String,
              probeOf: SparkSession => org.apache.spark.sql.DataFrame,
              buildOf: SparkSession => org.apache.spark.sql.DataFrame,
              nB: Long, buildSrc: String) = {
            // ---- decision inputs: metadata-class statistics (from the
            // fused one-pass probe stats; key = the edge prefix) ----
            val (nP, t1, ndv) = probeStatsByEdge(edge.takeWhile(_ != '_'))
            val (budget, buildBytes) = (nP * 8L / 4L, nB * 8L)
            val skew = (BigInt(t1) * 100 * BigInt(ndv) / BigInt(nP)).toLong
            val strategy =
              if (buildBytes <= budget) "broadcast"
              else if (skew >= 800L) "salted"
              else "shuffle"
            // ---- execution: the chosen physical shape ----
            // The DECISION above came from the abstract 8-bytes/row
            // model; the threshold handed to Spark exists only to
            // ENFORCE it, and Spark compares it against on-disk file
            // statistics (compressed parquet bytes, projection-scaled)
            // — unrelated units. Derive the enforcement value from the
            // build side's measured source bytes (projection only ever
            // scales Spark's estimate DOWN from file bytes), so the
            // audited routing can't flip with the codec or SF.
            val se = graft.GraftSession.derive(s,
              "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.autoBroadcastJoinThreshold" ->
                (if (strategy == "broadcast") (parquetBytes(buildSrc) * 4L + 1L).toString
                else "-1"))
            val (probe, build) = (probeOf(se), buildOf(se))
            val j = strategy match {
              case "salted" =>
                Salting.saltedJoinWith(probe, build, col("k"), col("bk"),
                  pmod(Hashing.h60(col("rid").cast("string")), lit(8)).cast("int"), 8)
              case _ => probe.join(build, col("k") === col("bk"))
            }
            val (bhj, sh, gen) = (BucketedJoin.countBroadcastHashJoins(j),
              BucketedJoin.countShuffles(j), BucketedJoin.countGenerates(j))
            val r = j.agg(count(lit(1)), sum(col("k"))).head()
            val expected = strategy match {
              case "broadcast" => (1L, 0L, 0L)
              case "shuffle" => (0L, 2L, 0L)
              case "salted" => (0L, 2L, 1L)
            }
            (edge, strategy, nP, nB, budget, buildBytes, ndv, t1, skew,
              r.getLong(0), r.getLong(1), bhj, sh, gen,
              (bhj, sh, gen) == expected)
          }
          graft.ops.Par.run(Seq(
            () => edgeRow("e1_dim", probeCust, buildCust, nBC, s"$dir/customer.parquet"),
            () => edgeRow("e2_flat", probeFlat, buildLine, nBL, s"$dir/lineitem.parquet"),
            () => edgeRow("e3_skew", probeSkew, buildLine, nBL, s"$dir/lineitem.parquet")))
            .toDF("edge", "strategy", "n_probe", "n_build", "budget_bytes",
              "build_bytes", "ndv_probe", "top1_cnt", "skew_x100",
              "n_join", "sum_k", "bhj", "shuffles", "generates", "plan_ok")
            .orderBy("edge")
        }
      },
      Some {
        import graft.oracle.OracleSql.{hllEstimateOverRegs, hllRegs}
        def edgeSql(edge: String, probeCte: String, buildCte: String,
            bhj: Int, sh: Int, gen: Int) =
          s"""SELECT '$edge' AS edge,
            (SELECT CAST(count(*) AS BIGINT) FROM $probeCte) AS n_probe,
            (SELECT CAST(count(*) AS BIGINT) FROM $buildCte) AS n_build,
            ${hllEstimateOverRegs(hllRegs(probeCte, "k"))} AS ndv_probe,
            (SELECT CAST(max(c) AS BIGINT) FROM
              (SELECT count(*) AS c FROM $probeCte GROUP BY k)) AS top1_cnt,
            (SELECT CAST(count(*) AS BIGINT) FROM $probeCte p
              JOIN $buildCte b ON p.k = b.bk) AS n_join,
            (SELECT CAST(sum(p.k) AS BIGINT) FROM $probeCte p
              JOIN $buildCte b ON p.k = b.bk) AS sum_k,
            CAST($bhj AS BIGINT) AS bhj, CAST($sh AS BIGINT) AS shuffles,
            CAST($gen AS BIGINT) AS generates"""
        s"""WITH po AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
          pf AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
          ps AS (SELECT CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
              ELSE CAST(o_orderkey AS BIGINT) END AS k FROM orders),
          bc AS (SELECT CAST(c_custkey AS BIGINT) AS bk FROM customer),
          bl AS (SELECT CAST(l_orderkey AS BIGINT) AS bk FROM lineitem),
          u AS (${edgeSql("e1_dim", "po", "bc", 1, 0, 0)}
            UNION ALL ${edgeSql("e2_flat", "pf", "bl", 0, 2, 0)}
            UNION ALL ${edgeSql("e3_skew", "ps", "bl", 0, 2, 1)}),
          d AS (SELECT *,
            CAST(n_probe * 8 // 4 AS BIGINT) AS budget_bytes,
            CAST(n_build * 8 AS BIGINT) AS build_bytes,
            CAST(CAST(top1_cnt AS HUGEINT) * 100 * ndv_probe
              // n_probe AS BIGINT) AS skew_x100
            FROM u)
          SELECT edge,
            CASE WHEN build_bytes <= budget_bytes THEN 'broadcast'
              WHEN skew_x100 >= 800 THEN 'salted'
              ELSE 'shuffle' END AS strategy,
            n_probe, n_build, budget_bytes, build_bytes, ndv_probe,
            top1_cnt, skew_x100, n_join, sum_k, bhj, shuffles, generates,
            TRUE AS plan_ok
          FROM d ORDER BY edge"""
      }
    ),
    // q222: q221's decision tree recomputed END-TO-END from the
    // PERSISTED tables — the entire decision path reads manifest row
    // counts + col_ndv register rows + col_topk frequency rows + (r20)
    // col_cms cells out of the committed log (zero dataframe
    // aggregation before a strategy is chosen), and the audited joins
    // execute over the manifest's own staged files. FOUR branches
    // since r20: e1 → broadcast, e2 → shuffle, e3 → salted (probe-side
    // skew), e4 → SPLIT (build-side skew: hot keys from the BUILD
    // side's col_topk, the probe's hot slice bounded by its col_cms
    // point estimates, broadcast-hot + shuffle-remainder — q226's
    // strategy inside the tree), at every SF by construction; executed
    // plan shapes, censuses, every decision input, and the metadata
    // row count consumed all ride the hash. Full lifecycle + scale
    // shape: SnapshotLog.persistedStrategyDecision scaladoc.
    Q(
      "q222_persisted_strategy_decision",
      (s, dir) => graft.sinks.SnapshotLog.persistedStrategyDecision(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllBucket, hllEstimate, hllRank, hllSH}
        val h = h60("CAST(k AS VARCHAR)")
        val hCell = h60("CAST(r.i AS VARCHAR) || ':' || CAST(bhot.k AS VARCHAR)")
        val hPCell = h60("CAST(r.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)")
        s"""WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS k_cust,
            CAST(o_orderkey AS BIGINT) AS k_ord,
            CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
              ELSE CAST(o_orderkey AS BIGINT) END AS k_skew,
            CAST(o_orderkey AS BIGINT) % 4 AS g
          FROM orders),
          l AS (SELECT CAST(l_orderkey AS BIGINT) AS lk,
            CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
              ELSE CAST(l_orderkey AS BIGINT) END AS lk_skew,
            CAST(l_orderkey AS BIGINT) % 2 AS g
          FROM lineitem),
          cst AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
            CAST(c_custkey AS BIGINT) % 2 AS g FROM customer),
          rws AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS i),
          kv AS (SELECT g, 'k_cust' AS cn, k_cust AS k FROM o
            UNION ALL SELECT g, 'k_ord', k_ord FROM o
            UNION ALL SELECT g, 'k_skew', k_skew FROM o),
          pf AS (SELECT g, cn, k, CAST(count(*) AS BIGINT) AS c
            FROM kv GROUP BY 1, 2, 3),
          tk AS (SELECT g, cn, k, c FROM (SELECT g, cn, k, c, row_number()
              OVER (PARTITION BY g, cn ORDER BY c DESC, k) AS rn FROM pf)
            WHERE rn <= 8),
          mg AS (SELECT cn, k, CAST(sum(c) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
          t1 AS (SELECT cn, k AS top1_key, c AS top1_cnt FROM (SELECT cn, k, c,
              row_number() OVER (PARTITION BY cn ORDER BY c DESC, k) AS rn FROM mg)
            WHERE rn = 1),
          hh AS (SELECT DISTINCT cn, $h AS h FROM pf),
          regs AS (SELECT cn, ${hllBucket("h")} AS bucket,
              CAST(max(${hllRank("h")}) AS BIGINT) AS mr FROM hh GROUP BY 1, 2),
          nd AS (SELECT cn, ${hllEstimate("s_h")} AS ndv FROM
            (SELECT cn, $hllSH AS s_h FROM regs GROUP BY cn)),
          nr AS (SELECT cn, CAST(count(*) AS BIGINT) AS n_ndv_rows FROM
            (SELECT DISTINCT cn, g, ${hllBucket(h)} AS bucket FROM pf)
            GROUP BY cn),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM o),
          bkv AS (SELECT g, 'lk' AS cn, lk AS k FROM l
            UNION ALL SELECT g, 'lk_skew', lk_skew FROM l
            UNION ALL SELECT g, 'ck', ck FROM cst),
          bpf AS (SELECT g, cn, k, CAST(count(*) AS BIGINT) AS c
            FROM bkv GROUP BY 1, 2, 3),
          btk AS (SELECT g, cn, k, c FROM (SELECT g, cn, k, c, row_number()
              OVER (PARTITION BY g, cn ORDER BY c DESC, k) AS rn FROM bpf)
            WHERE rn <= 8),
          bmg AS (SELECT cn, k, CAST(sum(c) AS BIGINT) AS c
            FROM btk GROUP BY 1, 2),
          bt1 AS (SELECT cn, c AS bt1c FROM (SELECT cn, k, c, row_number()
              OVER (PARTITION BY cn ORDER BY c DESC, k) AS rn FROM bmg)
            WHERE rn = 1),
          bhh AS (SELECT DISTINCT cn, $h AS h FROM bpf),
          bregs AS (SELECT cn, ${hllBucket("h")} AS bucket,
              CAST(max(${hllRank("h")}) AS BIGINT) AS mr FROM bhh GROUP BY 1, 2),
          bnd AS (SELECT cn, ${hllEstimate("s_h")} AS ndv FROM
            (SELECT cn, $hllSH AS s_h FROM bregs GROUP BY cn)),
          bn AS (SELECT cn, CAST(count(*) AS BIGINT) AS n FROM bkv GROUP BY 1),
          bhot AS (SELECT bmg.cn, bmg.k FROM bmg
            JOIN bnd ON bmg.cn = bnd.cn JOIN bn ON bmg.cn = bn.cn
            WHERE CAST(bmg.c AS HUGEINT) * 100 * bnd.ndv // bn.n >= 800),
          gk AS (SELECT cn, k, CAST(sum(c) AS BIGINT) AS c FROM pf GROUP BY 1, 2),
          pcells AS (SELECT cn, r.i, ($hPCell) % 64 AS j,
              CAST(sum(c) AS BIGINT) AS cnt
            FROM gk CROSS JOIN rws r GROUP BY 1, 2, 3),
          e AS (
            SELECT 'e1_dim' AS edge, 'k_cust' AS cn, 'ck' AS bcn,
              (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_build,
              (SELECT CAST(count(*) AS BIGINT) FROM o
                JOIN customer ON k_cust = c_custkey) AS n_join,
              (SELECT CAST(sum(k_cust) AS BIGINT) FROM o
                JOIN customer ON k_cust = c_custkey) AS sum_k,
              CAST(1 AS BIGINT) AS bhj, CAST(0 AS BIGINT) AS shuffles,
              CAST(0 AS BIGINT) AS generates
            UNION ALL
            SELECT 'e2_flat', 'k_ord', 'lk',
              (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
              (SELECT CAST(count(*) AS BIGINT) FROM o
                JOIN lineitem ON k_ord = l_orderkey),
              (SELECT CAST(sum(k_ord) AS BIGINT) FROM o
                JOIN lineitem ON k_ord = l_orderkey),
              CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'e3_skew', 'k_skew', 'lk',
              (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
              (SELECT CAST(count(*) AS BIGINT) FROM o
                JOIN lineitem ON k_skew = l_orderkey),
              (SELECT CAST(sum(k_skew) AS BIGINT) FROM o
                JOIN lineitem ON k_skew = l_orderkey),
              CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)
            UNION ALL
            SELECT 'e4_build_skew', 'k_ord', 'lk_skew',
              (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
              (SELECT CAST(count(*) AS BIGINT) FROM o
                JOIN l ON k_ord = lk_skew),
              (SELECT CAST(sum(k_ord) AS BIGINT) FROM o
                JOIN l ON k_ord = lk_skew),
              CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
          nhot AS (SELECT e.edge, CAST(count(bhot.k) AS BIGINT) AS n_hot
            FROM e LEFT JOIN bhot ON bhot.cn = e.bcn GROUP BY 1),
          hkmin AS (SELECT e.edge, bhot.k,
              CAST(min(coalesce(pc.cnt, 0)) AS BIGINT) AS f
            FROM e JOIN bhot ON bhot.cn = e.bcn
            CROSS JOIN rws r
            LEFT JOIN pcells pc ON pc.cn = e.cn AND pc.i = r.i
              AND pc.j = ($hCell) % 64
            GROUP BY 1, 2),
          hest AS (SELECT e.edge, CAST(coalesce(sum(hkmin.f), 0) AS BIGINT) AS est
            FROM e LEFT JOIN hkmin ON hkmin.edge = e.edge GROUP BY 1),
          d AS (SELECT e.*, n.n_probe,
              CAST(n.n_probe * 8 // 4 AS BIGINT) AS budget_bytes,
              CAST(e.n_build * 8 AS BIGINT) AS build_bytes,
              t1.top1_key, t1.top1_cnt, nd.ndv AS ndv_probe,
              nr.n_ndv_rows AS n_ndv_rows_read,
              CAST(CAST(t1.top1_cnt AS HUGEINT) * 100 * nd.ndv
                // n.n_probe AS BIGINT) AS skew_x100,
              CAST(CAST(bt1.bt1c AS HUGEINT) * 100 * bnd.ndv
                // bn.n AS BIGINT) AS build_skew_x100,
              nhot.n_hot, hest.est AS hot_probe_est
            FROM e JOIN t1 ON e.cn = t1.cn JOIN nd ON e.cn = nd.cn
            JOIN nr ON e.cn = nr.cn JOIN bt1 ON e.bcn = bt1.cn
            JOIN bnd ON e.bcn = bnd.cn JOIN bn ON e.bcn = bn.cn
            JOIN nhot ON e.edge = nhot.edge JOIN hest ON e.edge = hest.edge
            CROSS JOIN n)
          SELECT edge,
            CASE WHEN build_bytes <= budget_bytes THEN 'broadcast'
              WHEN skew_x100 >= 800 THEN 'salted'
              WHEN n_hot > 0 AND hot_probe_est * 8 <= n_probe * 8 // 2
                THEN 'split'
              ELSE 'shuffle' END AS strategy,
            n_probe, n_build, budget_bytes, build_bytes, ndv_probe,
            top1_key, top1_cnt, skew_x100, build_skew_x100, hot_probe_est,
            n_ndv_rows_read, n_join, sum_k,
            bhj, shuffles, generates, TRUE AS plan_ok, TRUE AS live_log
          FROM d ORDER BY edge"""
      }
    ),
    // q223: SALT-FACTOR cost-model audit — q147 RECOMMENDS a factor
    // and q218/q221 CHOOSE to salt; this entry measures what each
    // factor actually buys: the sentinel-skew edge executed at factors
    // 1 (plain) / 4 / 8 / 16, per factor in-hash — the max
    // per-(key, salt) subgroup (the straggler metric itself, exact
    // ceil(top1/S) at minimum), balance_x100 = max_sub·S·100/top1
    // (100 = perfect split; the h60 split's measured deviation), the
    // executed plan's Generate count (0 plain / 1 salted), and census
    // equality across EVERY factor (salting never changes results).
    // q147's advisor factor for this edge rides the hash beside them
    // (min(32, ceil(top1 / ceil(n/128))) — 32 at every SF here: the
    // sentinel key is hotter than 32 target-task slices, the
    // executor-width cap binds). Deterministic end to end: the split
    // is h60(rid) % S, replayed verbatim by the oracle. Broadcast and
    // AQE are off on the entry's derived session, so the audited plan
    // is the plan that runs.
    //
    // Scale shape: the decision inputs are q218's stat-table numbers;
    // ONE exploded map-side-combined (factor, key, salt) grouping
    // yields every factor's straggler metric, the plain census is
    // computed once and shared, and each salted factor adds exactly
    // one streamed join census — nothing materializes.
    Q(
      "q223_salt_factor_audit",
      (outer, dir) => {
        val s = graft.GraftSession.derive(outer,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1", "spark.sql.adaptive.enabled" -> "false")
        import s.implicits._
        import graft.ops.{BucketedJoin, Hashing, Salting}
        val probe = Tables.orders(s, dir).select(
          when(col("o_orderstatus") === "F", lit(1L))
            .otherwise(col("o_orderkey").cast("long")).as("k"),
          col("o_orderkey").cast("long").as("rid"))
        val build = Tables.lineitem(s, dir)
          .select(col("l_orderkey").cast("long").as("bk"))
        def census(j: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = j.agg(count(lit(1)), sum(col("k"))).head()
          (r.getLong(0), r.getLong(1))
        }
        val factors = Seq(1, 4, 8, 16)
        val jPlain = probe.join(build, col("k") === col("bk"))
        val joins: Map[Int, org.apache.spark.sql.DataFrame] =
          factors.map { f =>
            f -> (if (f == 1) jPlain
              else {
                val saltCol =
                  pmod(Hashing.h60(col("rid").cast("string")), lit(f)).cast("int")
                Salting.saltedJoinWith(probe, build, col("k"), col("bk"), saltCol, f)
              })
          }.toMap
        // every factor's straggler metric from ONE exploded
        // map-side-combined grouping (same h60 % f split values the
        // per-factor salt columns produce); the factor-1 leg's groups
        // ARE the per-key counts, so n_probe (Σc at salts=1) and
        // top1_cnt (max c at salts=1) ride the same job.
        // The four join censuses and the subgroup pass are independent
        // actions — overlapped: the salted legs' straggler tails
        // back-fill each other instead of running end-to-end.
        val msThunk: () => Seq[(Long, Long, Long)] = () => probe
          .select(col("k"), Hashing.h60(col("rid").cast("string")).as("h"))
          .select(col("k"), col("h"),
            explode(array(factors.map(f => lit(f.toLong)): _*)).as("salts"))
          .groupBy(col("salts"), col("k"), pmod(col("h"), col("salts")).as("s"))
          .agg(count(lit(1)).as("c"))
          .groupBy("salts").agg(max("c").as("max_sub"), sum("c").as("tot"))
          .collect() // one row per factor — bounded by |factors|
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val acts: Seq[() => AnyRef] =
          msThunk +: factors.map(f => () => census(joins(f)): AnyRef)
        val done = graft.ops.Par.run(acts)
        val msRows = done.head.asInstanceOf[Seq[(Long, Long, Long)]]
        val censuses: Map[Int, (Long, Long)] = factors.zip(
          done.tail.map(_.asInstanceOf[(Long, Long)])).toMap
        val (nPlain, sPlain) = censuses(1)
        val maxSubs: Map[Long, Long] = msRows.map(r => (r._1, r._2)).toMap
        val nP = msRows.find(_._1 == 1L).get._3
        val top1 = maxSubs(1L)
        val target = math.max(1L, (nP + 127L) / 128L)
        val rec = math.min(32L, (top1 + target - 1L) / target)
        factors.map { f =>
          val (j, (nJ, sJ)) = (joins(f), censuses(f))
          val gen = BucketedJoin.countGenerates(j)
          val maxSub = maxSubs(f.toLong)
          (f.toLong, nP, top1, maxSub,
            maxSub * f * 100L / top1, nJ,
            nJ == nPlain && sJ == sPlain, gen,
            gen == (if (f == 1) 0L else 1L), rec)
        }
          .toDF("salts", "n_probe", "top1_cnt", "max_subgroup",
            "balance_x100", "n_join", "census_ok", "gen_nodes", "plan_ok",
            "rec_factor")
          .orderBy("salts")
      },
      Some {
        import graft.oracle.OracleSql.h60
        val hs = h60("CAST(rid AS VARCHAR)")
        s"""WITH p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
              ELSE CAST(o_orderkey AS BIGINT) END AS k,
            CAST(o_orderkey AS BIGINT) AS rid FROM orders),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM p),
          t1 AS (SELECT CAST(max(c) AS BIGINT) AS top1_cnt FROM
            (SELECT count(*) AS c FROM p GROUP BY k)),
          jn AS (SELECT CAST(count(*) AS BIGINT) AS n_join FROM p
            JOIN lineitem ON p.k = l_orderkey),
          fs AS (SELECT CAST(unnest([1, 4, 8, 16]) AS BIGINT) AS salts),
          ms AS (SELECT salts, CAST(max(c) AS BIGINT) AS max_subgroup FROM
            (SELECT f.salts AS salts, count(*) AS c FROM p CROSS JOIN fs f
              GROUP BY f.salts, p.k, ($hs) % f.salts)
            GROUP BY salts),
          rc AS (SELECT least(CAST(32 AS BIGINT),
              (t1.top1_cnt + greatest(CAST(1 AS BIGINT),
                (n.n_probe + 127) // 128) - 1)
              // greatest(CAST(1 AS BIGINT), (n.n_probe + 127) // 128))
              AS rec_factor
            FROM t1 CROSS JOIN n)
          SELECT ms.salts, n.n_probe, t1.top1_cnt, ms.max_subgroup,
            CAST(ms.max_subgroup * ms.salts * 100 // t1.top1_cnt AS BIGINT)
              AS balance_x100,
            jn.n_join, TRUE AS census_ok,
            CAST(CASE WHEN ms.salts = 1 THEN 0 ELSE 1 END AS BIGINT)
              AS gen_nodes,
            TRUE AS plan_ok, rc.rec_factor
          FROM ms CROSS JOIN n CROSS JOIN t1 CROSS JOIN jn CROSS JOIN rc
          ORDER BY ms.salts"""
      }
    ),
    // q224: COMPOSITE-KEY NDV — the stat the estimator family was
    // missing for multi-column joins: under correlation, the
    // independence product ndv(a)·ndv(b) (even capped at n) misjudges
    // the pair cardinality, and the join estimate built on it inherits
    // the miss; a register sketch of the CONCATENATED pair (one more
    // col_ndv row family, col name "a|b" — h60(a || '|' || b)) answers
    // the pair NDV directly. THREE pairs bracket the regimes, in-hash:
    // orders (orderkey, custkey) — functionally determined but the
    // n-cap rescues the product; lineitem (partkey, suppkey) —
    // near-independent in this corpus (the product is honest there,
    // measured +152 bp at sf0.1); and the correlated derived pair
    // (orderkey%100, orderkey%150) — co-determined with lcm 300, where
    // the capped product overshoots the 300 true pairs by 50× AND the
    // join estimate built on it lands ~50× UNDER the true count, while
    // the pair sketch stays within HLL noise on both. err_prod/err_pair
    // and err_join_indep/err_join_pair all ride the hash. Integer
    // BigInt/HUGEINT throughout.
    //
    // Scale shape: ONE exploded scan per pair computes all three
    // ≤64-cell register censuses (a, b, composite); at 100 TB the
    // composite rows ride col_ndv like any column (the name is "a|b",
    // persisted + routed by q225); the exact pair count is this
    // entry's audit layer and true_join is a construction identity.
    Q(
      "q224_composite_key_ndv",
      (s, dir) => {
        import s.implicits._
        import graft.ops.{Hashing, Hll}
        def pairRow(name: String, d: org.apache.spark.sql.DataFrame) = {
          // ONE job for EVERYTHING (r21, guide §2.3/§2.4): the exploded
          // (cn, v) rows collapse to DISTINCT VALUES first (map-side
          // combine does most of it before the exchange), and the
          // registers, per-bucket row counts AND the exact pair NDV all
          // derive from the distinct values — registers over distinct
          // values equal registers over raw rows (per-bucket MAX is
          // duplicate-insensitive), per-bucket row counts are Σc, and
          // the exact pair NDV is the count of distinct 'ab' values
          // (the '|' separator keys the (a, b) pair injectively for
          // these non-null integer columns, so it equals the old
          // d.distinct().count() — that second full-scan job is gone).
          // h60's md5 now hashes each DISTINCT value once instead of
          // every exploded row — the same trim at 100 TB, where the
          // value domain is orders of magnitude below the row count.
          val regRows = d.select(explode(array(
              struct(lit("a").as("cn"), col("a").cast("string").as("v")),
              struct(lit("b").as("cn"), col("b").cast("string").as("v")),
              struct(lit("ab").as("cn"), concat(col("a").cast("string"),
                lit("|"), col("b").cast("string")).as("v")))).as("kv"))
            .groupBy(col("kv.cn").as("cn"), col("kv.v").as("v"))
            .agg(count(lit(1)).as("c"))
            .select(col("cn"), Hashing.h60(col("v")).as("h"), col("c"))
            .select(col("cn"), Hll.bucketCol.as("bucket"),
              Hll.rankCol.as("rk"), col("c"))
            .groupBy("cn", "bucket")
            .agg(max("rk").as("mr"), sum("c").as("n"), count(lit(1)).as("nd"))
            .collect() // ≤ 3·64 register cells — sketch metadata
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
          val n = regRows.collect { case ("a", _, _, cnt, _) => cnt }.sum
          def est(cn: String): Long = Hll.estimateInt(
            regRows.collect { case (c, b, mr, _, _) if c == cn => (b, mr) }.toSeq)
          val (ndvA, ndvB, pairEst) = (est("a"), est("b"), est("ab"))
          val nDim = regRows.collect { case ("ab", _, _, _, nd) => nd }.sum
          val prodCapped =
            (BigInt(ndvA) * BigInt(ndvB)).min(BigInt(n)).toLong
          def errBp(e: Long, t: Long): Long =
            (BigInt(e - t) * 10000 / BigInt(t)).toLong
          // the composite-key join — df ⋈ its distinct-pair dim on BOTH
          // columns — matches every row exactly once BY CONSTRUCTION
          // (dim is d's own distinct pair set), so |d ⋈ dim| = |d|;
          // asserted arithmetic, not a third executed join (the oracle
          // has always hardcoded n_rows AS true_join for the same reason)
          val trueJoin = n
          def estJoin(ndvPair: Long): Long =
            (BigInt(n) * BigInt(nDim) / BigInt(math.max(ndvPair, nDim))).toLong
          val (eInd, ePair) = (estJoin(prodCapped), estJoin(pairEst))
          (name, n, ndvA, ndvB, prodCapped, pairEst, nDim,
            errBp(prodCapped, nDim), errBp(pairEst, nDim),
            eInd, ePair, trueJoin, errBp(eInd, trueJoin), errBp(ePair, trueJoin))
        }
        def keyed(df: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) =
          df.select(a.cast("long").as("a"), b.cast("long").as("b"))
        // the three pairs are independent single-job censuses — overlap
        // them (guide §2.6); each thunk's result keeps its slot
        graft.ops.Par.run(Seq(
          () => pairRow("ord_cust",
            keyed(Tables.orders(s, dir), col("o_orderkey"), col("o_custkey"))),
          () => pairRow("part_supp",
            keyed(Tables.lineitem(s, dir), col("l_partkey"), col("l_suppkey"))),
          () => pairRow("corr_mod",
            keyed(Tables.lineitem(s, dir), col("l_orderkey") % 100,
              col("l_orderkey") % 150))))
          .toDF("pair", "n_rows", "ndv_a", "ndv_b", "ndv_prod_capped",
            "pair_est", "pair_exact", "err_prod_bp", "err_pair_bp",
            "est_join_indep", "est_join_pair", "true_join",
            "err_join_indep_bp", "err_join_pair_bp")
          .orderBy("pair")
      },
      Some {
        import graft.oracle.OracleSql.{h60, hllEstimateOverRegs}
        // register census over an arbitrary key EXPRESSION (hllRegs
        // takes a bare column; the composite key needs the raw form)
        def regsExpr(rel: String, keyExpr: String): String = {
          val h = h60(keyExpr)
          s"""SELECT ${graft.oracle.OracleSql.hllBucket("h")} AS bucket,
             CAST(max(${graft.oracle.OracleSql.hllRank("h")}) AS BIGINT) AS mr
             FROM (SELECT $h AS h FROM $rel) GROUP BY 1"""
        }
        def est(regs: String) = hllEstimateOverRegs(regs)
        def one(name: String, rel: String, a: String, b: String) = {
          val pairKey = s"CAST($a AS VARCHAR) || '|' || CAST($b AS VARCHAR)"
          s"""SELECT '$name' AS pair,
            (SELECT CAST(count(*) AS BIGINT) FROM $rel) AS n_rows,
            ${est(regsExpr(rel, s"CAST($a AS VARCHAR)"))} AS ndv_a,
            ${est(regsExpr(rel, s"CAST($b AS VARCHAR)"))} AS ndv_b,
            ${est(regsExpr(rel, pairKey))} AS pair_est,
            (SELECT CAST(count(*) AS BIGINT) FROM
              (SELECT DISTINCT $a, $b FROM $rel)) AS pair_exact"""
        }
        s"""WITH cm AS (SELECT l_orderkey % 100 AS a, l_orderkey % 150 AS b
            FROM lineitem),
          u AS (${one("ord_cust", "orders", "o_orderkey", "o_custkey")}
            UNION ALL ${one("part_supp", "lineitem", "l_partkey", "l_suppkey")}
            UNION ALL ${one("corr_mod", "cm", "a", "b")}),
          d AS (SELECT *,
            CAST(least(CAST(ndv_a AS HUGEINT) * ndv_b, CAST(n_rows AS HUGEINT))
              AS BIGINT) AS ndv_prod_capped FROM u),
          e AS (SELECT *,
            CAST(CAST(n_rows AS HUGEINT) * pair_exact
              // greatest(ndv_prod_capped, pair_exact) AS BIGINT)
              AS est_join_indep,
            CAST(CAST(n_rows AS HUGEINT) * pair_exact
              // greatest(pair_est, pair_exact) AS BIGINT) AS est_join_pair,
            n_rows AS true_join
            FROM d)
          SELECT pair, n_rows, ndv_a, ndv_b, ndv_prod_capped, pair_est,
            pair_exact,
            CAST((CAST(ndv_prod_capped AS HUGEINT) - pair_exact) * 10000
              // pair_exact AS BIGINT) AS err_prod_bp,
            CAST((CAST(pair_est AS HUGEINT) - pair_exact) * 10000
              // pair_exact AS BIGINT) AS err_pair_bp,
            est_join_indep, est_join_pair, true_join,
            CAST((CAST(est_join_indep AS HUGEINT) - true_join) * 10000
              // true_join AS BIGINT) AS err_join_indep_bp,
            CAST((CAST(est_join_pair AS HUGEINT) - true_join) * 10000
              // true_join AS BIGINT) AS err_join_pair_bp
          FROM e ORDER BY pair"""
      }
    ),
    // q225: COMPOSITE-KEY PAIR STATS, PERSISTED AND ROUTED — q224's
    // measurement turned into the product feature: pair registers land
    // as col_ndv rows under the "a|b" name at write time, and a
    // two-column join edge routes through the persisted decision tree
    // (pair rows when present, the capped independence product as the
    // genuine fallback against a second committed log WITHOUT the
    // family). The pair edge sizes the two-column join correctly and
    // SHUFFLES it; the product edge under-estimates the correlated
    // pair ~5–7× and broadcasts a fact-sized intermediate — the
    // classic correlated-key planner miss, executed and in-hash. Full
    // lifecycle + scale shape: SnapshotLog.pairStatRoutedDecision
    // scaladoc.
    Q(
      "q225_pair_stat_routed",
      (s, dir) => graft.sinks.SnapshotLog.pairStatRoutedDecision(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllBucket, hllEstimateOverRegs, hllRank}
        def regsExpr(rel: String, keyExpr: String): String = {
          val h = h60(keyExpr)
          s"""SELECT ${hllBucket("h")} AS bucket,
             CAST(max(${hllRank("h")}) AS BIGINT) AS mr
             FROM (SELECT $h AS h FROM $rel) GROUP BY 1"""
        }
        def est(rel: String, keyExpr: String) =
          hllEstimateOverRegs(regsExpr(rel, keyExpr))
        val pairPK = "CAST(k_cust AS VARCHAR) || '|' || CAST(k_seg AS VARCHAR)"
        val pairBK = "CAST(bk_cust AS VARCHAR) || '|' || CAST(bk_seg AS VARCHAR)"
        s"""WITH p AS (SELECT CAST(o_custkey AS BIGINT) AS k_cust,
            CAST(o_custkey % 10 AS BIGINT) AS k_seg,
            CAST(o_orderkey AS BIGINT) % 4 AS g FROM orders),
          b AS (SELECT CAST(c_custkey AS BIGINT) AS bk_cust,
            CAST(c_custkey % 10 AS BIGINT) AS bk_seg,
            CAST(c_custkey AS BIGINT) % 2 AS g FROM customer),
          np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
          nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
          prp AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (SELECT DISTINCT g,
            ${hllBucket("h")} AS bucket FROM
            (SELECT g, ${h60(pairPK)} AS h FROM p))),
          prb AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (SELECT DISTINCT g,
            ${hllBucket("h")} AS bucket FROM
            (SELECT g, ${h60(pairBK)} AS h FROM b))),
          ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_j FROM p
            JOIN b ON k_cust = bk_cust AND k_seg = bk_seg),
          s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_second,
              CAST(sum(p2.k_cust) AS BIGINT) AS sum_second
            FROM p p2 JOIN (SELECT k_cust FROM p
              JOIN b ON k_cust = bk_cust AND k_seg = bk_seg) j
            ON p2.k_cust = j.k_cust),
          ests AS (
            SELECT 'e1_pair_stats' AS edge, 'pair' AS used,
              prp.c AS pair_rows_probe, prb.c AS pair_rows_build,
              ${est("p", pairPK)} AS pair_ndv_probe,
              ${est("b", pairBK)} AS pair_ndv_build
            FROM prp CROSS JOIN prb
            UNION ALL
            SELECT 'e2_no_pair_stats', 'product',
              CAST(0 AS BIGINT), CAST(0 AS BIGINT),
              CAST(least(CAST(${est("p", "CAST(k_cust AS VARCHAR)")} AS HUGEINT)
                * ${est("p", "CAST(k_seg AS VARCHAR)")},
                CAST(np.n AS HUGEINT)) AS BIGINT),
              CAST(least(CAST(${est("b", "CAST(bk_cust AS VARCHAR)")} AS HUGEINT)
                * ${est("b", "CAST(bk_seg AS VARCHAR)")},
                CAST(nb.n AS HUGEINT)) AS BIGINT)
            FROM np CROSS JOIN nb),
          d AS (SELECT e.*, np.n AS n_probe, nb.n AS n_build,
              CAST(CAST(np.n AS HUGEINT) * nb.n
                // greatest(greatest(e.pair_ndv_probe, e.pair_ndv_build), 1)
                AS BIGINT) AS est_join,
              ex.exact_j AS exact_join
            FROM ests e CROSS JOIN np CROSS JOIN nb CROSS JOIN ex),
          f AS (SELECT *, CAST(est_join * 8 AS BIGINT) AS est_bytes,
              CAST(n_probe * 8 // 2 AS BIGINT) AS budget_bytes,
              CAST((CAST(est_join AS HUGEINT) - exact_join) * 10000
                // exact_join AS BIGINT) AS err_bp
            FROM d)
          SELECT edge, used, pair_rows_probe, pair_rows_build, n_probe,
            n_build,
            ${est("p", "CAST(k_cust AS VARCHAR)")} AS ndv_cust,
            ${est("p", "CAST(k_seg AS VARCHAR)")} AS ndv_seg,
            pair_ndv_probe, pair_ndv_build, est_join, exact_join, err_bp,
            budget_bytes, est_bytes,
            CASE WHEN est_bytes <= budget_bytes THEN 'broadcast'
              ELSE 'shuffle' END AS decision,
            s2.n_second, s2.sum_second,
            CAST(CASE WHEN est_bytes <= budget_bytes THEN 1 ELSE 0 END
              AS BIGINT) AS bhj,
            CAST(CASE WHEN est_bytes <= budget_bytes THEN 2 ELSE 4 END
              AS BIGINT) AS shuffles,
            TRUE AS plan_ok, TRUE AS live_log
          FROM f CROSS JOIN s2 ORDER BY edge"""
      }
    ),
    // q226: BUILD-SIDE SKEW — the broadcast-hot-keys SPLIT JOIN, the
    // other half of the skew playbook (Salting handles probe-side skew
    // by replicating the build side; a build-side heavy hitter instead
    // splits the join: broadcast the PROBE side's tiny hot-key slice,
    // shuffle the remainder). The decision composes TWO persisted stat
    // families: col_topk+col_ndv of the BUILD side pick the hot keys
    // (q218's ratio), col_cms of the PROBE side bounds the broadcast
    // slice (q220's one-sided f̂ ≥ f — conservative is exactly right
    // for a broadcast-size check). Executed with broadcast+AQE off:
    // the split plans exactly 1 BroadcastHashJoin + 1 SortMergeJoin
    // (pinned), the flat edge 0/1, and the split census ≡ plain census.
    // Full lifecycle + scale shape: SnapshotLog.buildSkewSplitJoin
    // scaladoc.
    Q(
      "q226_build_skew_split_join",
      (s, dir) => graft.sinks.SnapshotLog.buildSkewSplitJoin(s, dir),
      Some {
        import graft.oracle.OracleSql.{h60, hllBucket, hllEstimate, hllRank, hllSH}
        val hCell = h60("CAST(r.i AS VARCHAR) || ':' || CAST(hot.k AS VARCHAR)")
        val hPCell = h60("CAST(r.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)")
        s"""WITH b AS (SELECT l_orderkey % 4 AS g,
            CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
              ELSE CAST(l_orderkey AS BIGINT) END AS bk_skew,
            CAST(l_orderkey AS BIGINT) AS bk_flat,
            CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem),
          p AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
          rws AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS i),
          nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
          np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
          kv AS (SELECT g, 'bk_skew' AS cn, bk_skew AS k FROM b
            UNION ALL SELECT g, 'bk_flat', bk_flat FROM b),
          pf AS (SELECT g, cn, k, CAST(count(*) AS BIGINT) AS c
            FROM kv GROUP BY 1, 2, 3),
          tk AS (SELECT g, cn, k, c FROM (SELECT g, cn, k, c, row_number()
              OVER (PARTITION BY g, cn ORDER BY c DESC, k) AS rn FROM pf)
            WHERE rn <= 8),
          mg AS (SELECT cn, k, CAST(sum(c) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
          t1 AS (SELECT cn, k AS top1_key, c AS top1_cnt FROM (SELECT cn, k, c,
              row_number() OVER (PARTITION BY cn ORDER BY c DESC, k) AS rn FROM mg)
            WHERE rn = 1),
          hh AS (SELECT DISTINCT cn, ${h60("CAST(k AS VARCHAR)")} AS h FROM pf),
          regs AS (SELECT cn, ${hllBucket("h")} AS bucket,
              CAST(max(${hllRank("h")}) AS BIGINT) AS mr FROM hh GROUP BY 1, 2),
          nd AS (SELECT cn, ${hllEstimate("s_h")} AS ndv FROM
            (SELECT cn, $hllSH AS s_h FROM regs GROUP BY cn)),
          hot AS (SELECT mg.cn, mg.k FROM mg JOIN nd ON mg.cn = nd.cn
            CROSS JOIN nb
            WHERE CAST(mg.c AS HUGEINT) * 100 * nd.ndv // nb.n >= 800),
          nhot AS (SELECT cn, CAST(count(k) AS BIGINT) AS n_hot FROM
            (SELECT d.cn, hot.k FROM (SELECT DISTINCT cn FROM kv) d
              LEFT JOIN hot ON hot.cn = d.cn) GROUP BY 1),
          pcells AS (SELECT r.i, ($hPCell) % 64 AS j,
              CAST(sum(c) AS BIGINT) AS cnt
            FROM (SELECT k, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1)
            CROSS JOIN rws r GROUP BY 1, 2),
          hkf AS (SELECT hot.cn, hot.k,
              CAST(min(coalesce(pc.cnt, 0)) AS BIGINT) AS f
            FROM hot CROSS JOIN rws r LEFT JOIN pcells pc
              ON pc.i = r.i AND pc.j = ($hCell) % 64
            GROUP BY 1, 2),
          hest AS (SELECT d.cn, CAST(coalesce(sum(hkf.f), 0) AS BIGINT) AS est
            FROM (SELECT DISTINCT cn FROM kv) d
            LEFT JOIN hkf ON hkf.cn = d.cn GROUP BY 1),
          j1 AS (SELECT 'bk_skew' AS cn, CAST(count(*) AS BIGINT) AS n_join,
              CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM p JOIN b ON k = bk_skew),
          j2 AS (SELECT 'bk_flat' AS cn, CAST(count(*) AS BIGINT) AS n_join,
              CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM p JOIN b ON k = bk_flat),
          jn AS (SELECT * FROM j1 UNION ALL SELECT * FROM j2),
          d AS (SELECT t1.cn, np.n AS n_probe, nb.n AS n_build,
              nd.ndv AS ndv_b, t1.top1_key, t1.top1_cnt,
              CAST(CAST(t1.top1_cnt AS HUGEINT) * 100 * nd.ndv
                // nb.n AS BIGINT) AS skew_x100,
              nhot.n_hot AS n_hot_keys, hest.est AS hot_probe_est,
              CAST(hest.est * 8 AS BIGINT) AS est_bytes,
              CAST(np.n * 8 // 2 AS BIGINT) AS budget_bytes
            FROM t1 JOIN nd ON t1.cn = nd.cn JOIN nhot ON t1.cn = nhot.cn
            JOIN hest ON t1.cn = hest.cn CROSS JOIN np CROSS JOIN nb)
          SELECT d.cn AS edge,
            CASE WHEN d.n_hot_keys = 0 THEN 'shuffle'
              WHEN d.est_bytes <= d.budget_bytes THEN 'split'
              ELSE 'salted' END AS strategy,
            d.n_probe, d.n_build, d.ndv_b, d.top1_key, d.top1_cnt,
            d.skew_x100, d.n_hot_keys, d.hot_probe_est, d.est_bytes,
            d.budget_bytes, jn.n_join, jn.sum_cents,
            TRUE AS census_match,
            CAST(CASE WHEN d.n_hot_keys > 0
              AND d.est_bytes <= d.budget_bytes THEN 1 ELSE 0 END AS BIGINT)
              AS bhj,
            CAST(1 AS BIGINT) AS smj,
            TRUE AS plan_ok, TRUE AS live_log
          FROM d JOIN jn ON d.cn = jn.cn
          ORDER BY edge"""
      }
    )
  )

  /** Actual on-disk bytes of a parquet file or directory — the
    * codec-true input for deriving broadcast ENFORCEMENT thresholds
    * (Spark's scan sizeInBytes starts from these bytes and projection
    * only scales it down, so `4·bytes + 1` always clears it).
    */
  private[graft] def parquetBytes(path: String): Long = {
    def go(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(go).sum
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else f.length()
    go(new java.io.File(path))
  }

  /** q209's bucketed catalog tables, staged once per (context, dir):
    * the production table is written once and joined many times — the
    * bench's repeated invocations must measure the join, not rewrite
    * the layout. External tables under a temp path; names carry the
    * dir hash so two dirs never collide in the shared session catalog.
    */
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bucketedTables(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    bucketedCache.compute(
      dir,
      (_, prev) => {
        // hash + length: two test dirs colliding on hashCode alone would
        // silently share (and fight over) one catalog table name.
        // Unsigned rendering: abs(Int.MinValue) is negative and would
        // break the unquoted identifier in the DDL below.
        val tag = s"${java.lang.Integer.toUnsignedString(dir.hashCode)}_${dir.length}"
        val (to, tc) = (s"graft_q209_orders_$tag", s"graft_q209_cust_$tag")
        if (prev != null && s.catalog.tableExists(to) && !s.sparkContext.isStopped) prev
        else {
          val base = graft.ops.Scratch.scratchDir("graft_q209_").toString
          s.sql(s"DROP TABLE IF EXISTS $to")
          s.sql(s"DROP TABLE IF EXISTS $tc")
          Tables.orders(s, dir)
            .select(col("o_custkey").cast("long").as("ck"),
              expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
            .write.bucketBy(8, "ck").sortBy("ck")
            .option("path", s"$base/orders").saveAsTable(to)
          Tables.customer(s, dir)
            .select(col("c_custkey").cast("long").as("ck"))
            .write.bucketBy(8, "ck").sortBy("ck")
            .option("path", s"$base/cust").saveAsTable(tc)
          (to, tc)
        }
      })
}
