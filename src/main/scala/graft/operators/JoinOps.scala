package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join family (SURVEY §2.2 ext tier). The reference's only join-shaped
  * computation is the window-grain combine (O12, utils/load.py:37-42);
  * these generalize it to the full relational join surface.
  *
  * Scale posture: small dims (customer, part, dates) are explicitly
  * broadcast — zero shuffle on the fact side. Big-big joins use the
  * `merge` hint so the plan is a sort-merge join on the shuffled key even
  * when a test-scale side would fit in a broadcast; at 100 TB both sides
  * shuffle-partition on the join key and AQE handles skew.
  */
object JoinOps extends QueryPack {

  private def dec(cn: String) = col(cn).cast("decimal(18,2)")

  // ------------------------------------------------ broadcast hash join
  private val joinBroadcast = QueryDef(
    "q_join_broadcast",
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count("*").as("n_orders"),
          sum(dec("o_totalprice")).cast("decimal(38,2)").cast("double").as("revenue"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    "Fact ⋈ broadcast dim: no shuffle of the orders side")

  // ------------------------------------------------- big-big sort-merge
  private val joinSmj = QueryDef(
    "q_join_smj",
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).hint("merge")
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count("*").as("n_items"),
          sum(dec("l_extendedprice")).cast("decimal(38,2)").cast("double").as("sum_price"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_items,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    "Big-big equi join, forced sort-merge (both sides shuffle on key)")

  // ---------------------------------------------------- semi / anti join
  private val joinSemiAnti = QueryDef(
    "q_join_semi_anti",
    (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val semi = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", lit("has_orders").as("tag"))
      val anti = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", lit("no_orders").as("tag"))
      semi.unionAll(anti).orderBy($"c_custkey", $"tag")
    },
    Some("""SELECT c_custkey, 'has_orders' AS tag FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders)
      UNION ALL
      SELECT c_custkey, 'no_orders' AS tag FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      ORDER BY c_custkey, tag"""),
    "EXISTS / NOT EXISTS as left_semi / left_anti")

  // ------------------------------------------------------- as-of join
  // For each order, the most recent lineitem ship DATE <= the order date.
  // The date domain is small and bounded (~2.5k distinct days regardless of
  // fact rows), so instead of a non-equi join (BNL at scale) we broadcast
  // the sorted distinct-date array and probe it per row with codegen'd
  // higher-order array functions — O(rows × |dates|) map-side work, zero
  // shuffle, survives a 1000-executor fan-out unchanged.
  private val joinRangeAsof = QueryDef(
    "q_join_range_asof",
    (s, d) => {
      import s.implicits._
      val shipDates = Tables.lineitem(s, d)
        .select($"l_shipdate".cast("date").as("sd")).distinct()
        .agg(sort_array(collect_list($"sd")).as("dates"))
      Tables.orders(s, d)
        .join(broadcast(shipDates))
        .select(
          $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
          date_format(
            array_max(filter($"dates", x => x <= $"o_orderdate".cast("date"))),
            "yyyy-MM-dd").as("asof_ship_date"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      (SELECT strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE)) AS asof_ship_date
      FROM orders ORDER BY o_orderkey"""),
    "As-of join via broadcast sorted date-domain probe (no non-equi shuffle)")

  // ----------------------------------- as-of join, custom physical op
  // Same semantics and SAME DuckDB oracle as q_join_range_asof, but
  // planned through the engine's own operator stack (AsOfJoinNode →
  // AsOfJoinStrategy → AsOfJoinExec): broadcast sorted dimension +
  // O(log m) binary-search probe per fact row instead of the O(m)
  // array-filter probe. See graft/plans/AsOfJoin.scala.
  private val joinAsofExec = QueryDef(
    "q_join_asof_exec",
    (s, d) => {
      import s.implicits._
      val shipDates = Tables.lineitem(s, d)
        .select($"l_shipdate".cast("date").cast("timestamp").as("sd")).distinct()
      val joined = graft.plans.AsOfJoin.asof(
        Tables.orders(s, d), shipDates, "o_orderdate", "sd")
      joined.select(
          $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
          date_format($"sd", "yyyy-MM-dd").as("asof_ship_date"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      (SELECT strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE)) AS asof_ship_date
      FROM orders ORDER BY o_orderkey"""),
    "As-of join via custom LogicalPlan/Strategy/SparkPlan (binary-search probe)")

  // --------------------------------------------------- outer joins
  // Full outer of two per-year order-count keyed aggregates: customers
  // active in only one year surface with NULL on the other side (shipped
  // as nullable BIGINT — both harness readers render int-with-null as
  // float64, so the representations agree). Same shuffle-on-key shape as
  // the inner joins; outer-ness only changes row emission.
  private val joinOuter = QueryDef(
    "q_join_outer",
    (s, d) => {
      import s.implicits._
      def yearAgg(y: Int, alias: String) =
        Tables.orders(s, d).filter(year($"o_orderdate") === y)
          .groupBy($"o_custkey").agg(count("*").as(alias))
      yearAgg(1995, "n_1995")
        .join(yearAgg(1996, "n_1996"), Seq("o_custkey"), "full_outer")
        .orderBy($"o_custkey")
    },
    Some("""SELECT o_custkey, n_1995, n_1996 FROM
      (SELECT o_custkey, count(*) AS n_1995 FROM orders
        WHERE year(o_orderdate) = 1995 GROUP BY o_custkey) a
      FULL JOIN
      (SELECT o_custkey, count(*) AS n_1996 FROM orders
        WHERE year(o_orderdate) = 1996 GROUP BY o_custkey) b
      USING (o_custkey)
      ORDER BY o_custkey"""),
    "Full outer join of keyed aggregates; NULL sides for one-year customers")

  // ------------------------------------------------------ cross join
  // Explicit cartesian of the two tiny dims (25 × 5 rows) — the one
  // place a cross join is legitimate. At scale: only ever dim × dim;
  // Spark plans the broadcast nested loop on the 5-row side.
  private val joinCross = QueryDef(
    "q_join_cross",
    (s, d) => {
      import s.implicits._
      Tables.nation(s, d).crossJoin(broadcast(Tables.region(s, d)))
        .select($"n_name", $"r_name",
          ($"n_regionkey" === $"r_regionkey").cast("int").as("is_home"))
        .orderBy($"n_name", $"r_name")
    },
    Some("""SELECT n_name, r_name,
      CAST(n_regionkey = r_regionkey AS INT) AS is_home
      FROM nation CROSS JOIN region ORDER BY n_name, r_name"""),
    "Explicit dim × dim cross join (the only sane cartesian)")

  // ----------------------------------------------------- bucketed join
  // Physical-layout co-location as a first-class query: both sides are
  // written bucketed by the join key (8 buckets, sorted), so the
  // sort-merge join consumes bucket files directly — NO exchange on
  // either side (asserted in ScaleTechniquesSpec). This is THE shuffle
  // eliminator for repeated fact-fact joins at 100 TB: pay the
  // partitioning once at write time, never at query time.
  /** Ensure a bucketed table exists for this scale factor; returns its
    * name. The name is derived from the sf dir, so different fixtures
    * never collide, and an existing table is REUSED (the fixture input is
    * immutable) — table setup is paid once per warehouse, not on every
    * timed run. A stale directory left by a crashed run is cleared
    * via the session's resolved warehouse path before the rewrite. */
  private[graft] def bucketedTable(s: SparkSession, d: String, base: String,
      write: => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): String = {
    val name = s"${base}_${new java.io.File(d).getName.replace('.', '_')}"
    if (!s.catalog.tableExists(name)) {
      val whUri = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val wh = java.nio.file.Paths.get(
        if (whUri.getScheme == null) whUri.getPath else new java.io.File(whUri).getPath)
      val dir = wh.resolve(name)
      graft.Fs.deleteRecursively(dir)
      write.saveAsTable(name)
    }
    name
  }

  // ------------------------------------------------- AQE skew-join path
  // The AUTOMATIC complement to q_salted_agg's manual salting (SURVEY
  // §4.2): a fact side where 70% of rows share one hot join key, forced
  // through a sort-merge join (broadcast disabled) so the hot partition
  // is real. AQE's skew-join optimization detects the oversized
  // partition at runtime and splits it across reducers — no manual
  // salting, no plan change. The skew thresholds are lowered in a SCOPED
  // session so test-scale data trips the same detector that fires with
  // default thresholds at 100 TB partition sizes; the caller's session
  // is never mutated. ScaleTechniquesSpec asserts the executed plan
  // carries skew=true splits.
  private val joinSkewed = QueryDef(
    "q_join_skewed",
    (s, d) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import ss.implicits._
      // plain % on BOTH engines (truncated toward zero; identical for the
      // nonnegative user_id domain — pmod would diverge from DuckDB's %)
      val fact = Tables.events(ss, d).select(
        when($"user_id" % 10 < 7, 7L)
          .otherwise(($"user_id" % 1500L) + 1L).as("k"),
        $"value")
      val dim = Tables.customer(ss, d)
        .select($"c_custkey".cast("long").as("k"), $"c_mktsegment")
      // AQE splits a skewed reducer partition by MAP-OUTPUT ranges, so it
      // needs multiple mappers feeding the join's exchange. A real
      // cluster's scan has thousands of map tasks; the single-file test
      // fixture has ONE, which makes the hot partition structurally
      // unsplittable. The round-robin spread below recreates the
      // many-mapper layout at test scale — it is demo scaffolding, not a
      // scale technique (at 100 TB you'd delete this line).
      fact.repartition(8).hint("merge").join(dim, "k")
        .groupBy($"c_mktsegment")
        .agg(count("*").as("n_events"),
          sum(dec("value")).cast("decimal(38,2)").cast("double").as("sum_value"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_events,
      CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      FROM (SELECT CASE WHEN user_id % 10 < 7 THEN 7
                        ELSE (user_id % 1500) + 1 END AS k, value
            FROM events) f
      JOIN customer ON f.k = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    "Hot-key fact ⋈ dim via sort-merge; AQE skew-join splits the hot partition")

  // ----------------------------------------------------- star-schema join
  // The shape a 100 TB warehouse query actually takes (VERDICT r5 task 5):
  // a fact table joined through a chain of dims in ONE plan — lineitem ⋈
  // orders (big-big, forced sort-merge: both sides shuffle-partition on
  // l_orderkey/o_orderkey) ⋈ customer ⋈ nation (both broadcast: the fact
  // lineage is never reshuffled for a dim). Revenue arithmetic is exact
  // decimal end-to-end: DECIMAL(18,2) × DECIMAL(18,6) products are exact
  // in both engines, so the sums agree bit for bit. The plan guard in
  // RelationalOpsSpec pins 1 SMJ + 2 BHJ and no extra fact-side exchange
  // beyond the SMJ shuffle, the aggregate, and the presentation sort.
  private val joinStar = QueryDef(
    "q_join_star",
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).hint("merge")
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          count("*").as("n_items"),
          sum(dec("l_extendedprice") *
            (lit(1).cast("decimal(18,6)") - $"l_discount".cast("decimal(18,6)")))
            .cast("decimal(38,8)").cast("double").as("revenue"))
        .orderBy($"n_name")
    },
    Some("""SELECT n_name, count(*) AS n_items,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,8)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""),
    "Star query: fact ⋈ fact (SMJ) ⋈ 2 broadcast dims in one plan, " +
      "exact-decimal revenue")

  // ------------------------------------- dynamic partition pruning (DPP)
  // The #1 scan-reduction lever a 100 TB star schema has: the fact is
  // hive-partitioned on the join key, the dim carries the selective
  // predicate, and Catalyst injects the dim's join-key set into the fact
  // scan's PartitionFilters as a `dynamicpruning` subquery (reusing the
  // dim's broadcast exchange, so the filter is free). Non-matching fact
  // partition DIRECTORIES are never listed, opened, or read — at 100 TB
  // with a date/tenant-partitioned fact this turns a full scan into a
  // few-percent scan before a single task launches. The partitioned fact
  // and the channel dim are materialized once per sf (write-once like
  // bucketedTable) so the measured cost is the pruned join, not the
  // fixture write. ScaleTechniquesSpec asserts the executed fact scan
  // carries the `dynamicpruning` partition filter and prunes to the two
  // 'web' partitions.
  private[graft] def dppFactDir(s: SparkSession, d: String): String =
    graft.Fs.staged("dpp_fact", d,
        graft.FixtureStamp.stamp("v1", d, "events")) { dir =>
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", $"user_id", $"value", $"event_type")
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(dir.toString)
    }

  private[graft] def dppDimDir(s: SparkSession, d: String): String =
    graft.Fs.staged("dpp_dim", d,
        graft.FixtureStamp.stamp("v1", d, "events")) { dir =>
      import s.implicits._
      Tables.events(s, d).select($"event_type").distinct()
        .withColumn("channel",
          when($"event_type".isin("click", "view"), "web")
            .when($"event_type".isin("purchase", "signup"), "app")
            .otherwise("ops"))
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    }

  private val joinDpp = QueryDef(
    "q_join_dpp",
    (s, d) => {
      import s.implicits._
      val fact = s.read.parquet(dppFactDir(s, d))
      val dim = s.read.parquet(dppDimDir(s, d)).filter($"channel" === "web")
      fact.join(broadcast(dim), Seq("event_type"))
        .groupBy($"event_type")
        .agg(count("*").as("n_events"),
          sum(dec("value")).cast("decimal(38,2)").cast("double").as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
      CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type ORDER BY event_type"""),
    "Partitioned fact ⋈ filtered dim: dynamic partition pruning skips " +
      "non-matching fact partition dirs at scan time")

  private val joinBucketed = QueryDef(
    "q_join_bucketed",
    (s, d) => {
      import s.implicits._
      val ot = bucketedTable(s, d, "graft_orders_b",
        Tables.orders(s, d).write
          .bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite"))
      val ct = bucketedTable(s, d, "graft_customer_b",
        Tables.customer(s, d).write
          .bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite"))
      s.table(ot).hint("merge")
        .join(s.table(ct), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count("*").as("n_orders"),
          sum(dec("o_totalprice")).cast("decimal(38,2)").cast("double").as("revenue"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
      CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    "Bucketed co-located sort-merge join: zero exchanges at query time")

  override def defs: Seq[QueryDef] =
    Seq(joinBroadcast, joinSmj, joinSemiAnti, joinRangeAsof, joinAsofExec,
      joinOuter, joinCross, joinBucketed, joinSkewed, joinStar, joinDpp)
}
