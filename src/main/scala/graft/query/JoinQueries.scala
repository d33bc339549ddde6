package graft
package query

import org.apache.spark.sql.functions._

import QuerySupport._

/** The `j` family: join strategies (SURVEY §2.3). */
private[graft] object JoinQueries {

  val family: Family = Family("j", "join strategies",
    impl = "graft.joins.Joins, graft.sink.BucketedMirror",
    specs = "JoinsSpec, PlanQualitySpec", queries = Seq(
    // Broadcast the small dims (region 5 rows, nation 25); the fact side
    // never shuffles for the dim lookups — only for the final group-by.
    Query("j1_broadcast_join", (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(decSum2(col("o_totalprice").cast("decimal(18,6)")).as("revenue"),
             count(lit(1)).as("n")),
      Sql("""SELECT r_name,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),

    // Large-large equi-join: shuffle on the join key, AQE picks the
    // physical strategy (sort-merge at scale, broadcast at tiny SF).
    Query("j2_sortmerge_join", (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(decSum2(volDec).as("revenue"),
             count(lit(1)).as("n")),
      Sql("""SELECT o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin)),

    Query("j3_semi_join", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n")),
      Sql("""SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin)),

    Query("j4_anti_join", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n")),
      Sql("""SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin)),

    // part is dim-sized relative to lineitem; AQE broadcasts it at test
    // SFs, and at 100 TB the same plan degrades gracefully to shuffle join.
    Query("j5_brand_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(decSum2(volDec).as("revenue"),
             round(sum(col("l_quantity")), 2).as("qty"),
             count(lit(1)).as("n")),
      Sql("""SELECT p_brand,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
        |  round(sum(l_quantity),2) AS qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin)),

    Query("j6_supplier_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(decSum2(volDec).as("revenue"),
             count(lit(1)).as("n")),
      Sql("""SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    // The q18 fact⋈fact shape over the BUCKETED fact-table mirror
    // (BucketedMirror.ensure builds-or-reuses it; one-time orderkey
    // shuffle+sort at write): both scans report
    // HashPartitioning(orderkey, 16) and their in-bucket sort, so the
    // sort-merge join plans with ZERO exchanges and ZERO sorts, and the
    // (o_orderkey, o_custkey) aggregate rides the same distribution —
    // the whole query is scan → SMJ → agg → TakeOrdered with no shuffle
    // anywhere (PlanQualitySpec-gated). The probe measured this layout
    // at 2.1× on the 60 M⋈15 M join (docs/SCALE_PROBE.md); `merge` hint
    // pins the strategy AQE would pick at any interesting scale, so the
    // gated plan is the one a cluster runs. Oracle = the q18 SQL: the
    // mirror must be CONTENT-INVISIBLE — same rows, different layout.
    Query("j7_bucketed_large_orders", (s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      ord.join(li.hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 150)
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    },
      // deliberately the q18 SQL verbatim: the bucketed mirror is a LAYOUT
      // change only, so the oracle proves it alters no row anywhere
      Sql(TpchQueries.largeOrdersSql)),

    // Third consumer of the SAME orderkey mirrors: the q21 shape.
    // Everything fact-side keys on l_orderkey, so the bucketed layout
    // carries the WHOLE chain without a fact shuffle — the F-order semi
    // join, the (order, supplier) aggregate, the per-order stats, and the
    // probe join all ride the write-time distribution; the only hash
    // exchange left is the final tiny s_name aggregate (PlanQualitySpec
    // counts exactly one).
    //
    // The probe join is deliberately SINGLE-key: q21's two-key
    // (order, supplier) join-back would demand hashpartitioning(ok, sk)
    // and re-shuffle BOTH sides — so the per-supplier frame reduces to a
    // per-ORDER frame carrying sk_t1, the unique holder of the latest
    // ship date when one exists, and each probe row derives its
    // "max over OTHER suppliers" as: t1 unless THIS supplier uniquely
    // holds t1 (then t2). Identical semantics, one fewer shuffled column
    // set, and the bucket order satisfies the join sort on the rows side.
    // Oracle = q21's verbatim three-reference SQL.
    Query("j9_bucketed_waiting_suppliers", (s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      val fOrders = ord.filter(col("o_orderstatus") === "F").select("o_orderkey")
      val rows = li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders.hint("merge"), col("l_orderkey") === col("o_orderkey"), "left_semi")
      val perSupp = rows.groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(col("l_shipdate")).as("smax"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ok")
      val frame = perSupp
        .withColumn("nsupp", count(lit(1)).over(w))
        .withColumn("t1", max(col("smax")).over(w))
        .withColumn("cnt_t1", sum(when(col("smax") === col("t1"), 1).otherwise(0)).over(w))
        .withColumn("t2", max(when(col("smax") < col("t1"), col("smax"))).over(w))
        .withColumn("sk_t1", max(when(col("smax") === col("t1"), col("sk"))).over(w))
        .groupBy("ok") // per-ok constants -> one row per order, same layout
        .agg(max(col("nsupp")).as("nsupp"), max(col("t1")).as("t1"),
          max(col("cnt_t1")).as("cnt_t1"), max(col("t2")).as("t2"),
          max(col("sk_t1")).as("sk_t1"))
      rows
        .join(frame.hint("merge"), col("l_orderkey") === col("ok"))
        .filter(col("nsupp") >= 2 && col("l_shipdate") >=
          when(col("cnt_t1") >= 2 || col("l_suppkey") =!= col("sk_t1"), col("t1"))
            .otherwise(col("t2")))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    },
      // verbatim q21 SQL: the bucketed layout must be content-invisible
      Sql(TpchQueries.waitingSuppliersSql)),

    // The mirror-REUSE claim made first-class: the q3 shape consumes the
    // SAME orderkey mirrors j7 built — one layout shuffle serves every
    // query on the key. The dim side broadcasts explicitly so the
    // streamed (orders) side keeps its bucketing through the first join;
    // the fact⋈fact SMJ then plans zero exchanges and zero sorts
    // (PlanQualitySpec), and the group-by rides the same partitioning.
    // Oracle = q3's verbatim SQL: layout must be content-invisible.
    Query("j8_bucketed_shipping_priority", (s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      broadcast(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"))
        .join(ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(li.filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(decSum2(volDec).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      // verbatim q3 SQL: the bucketed layout must be content-invisible
      Sql(TpchQueries.shippingPrioritySql)),

    // Third consumer of the SAME orderkey mirrors (after j8/j9): the q10
    // returned-items shape. customer⋈nation broadcasts as one dim build
    // onto the mirrored orders (which keeps its bucketing through the
    // broadcast join), so the fact⋈fact orderkey SMJ plans zero exchanges
    // and zero fact-side sorts; only the final custkey group-by — whose
    // input is already join-reduced — pays a shuffle. Oracle = q10's
    // verbatim SQL: the layout must be content-invisible.
    Query("j10_bucketed_returned_items", (s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      broadcast(Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey")))
        .join(ord.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                         col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(li.filter(col("l_returnflag") === "R").hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(decSum2(volDec).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      // verbatim q10 SQL: the bucketed layout must be content-invisible
      Sql(TpchQueries.returnedItemsSql)),

    // Runtime-filtered fact⋈key-set semi-join: a Bloom sketch of the
    // qualifying order keys probes in lineitem's SCAN stage (native
    // codegen expression), so non-matching fact rows never reach the
    // shuffle; the exact semi-join then removes Bloom false positives —
    // output is identical to the plain semi-join the oracle runs. The
    // always-on, explicit form of the runtime-filter pattern a 100 TB
    // fact join needs regardless of planner heuristics.
    Query("j11_bloom_prune_semi", (s, d) => {
      val hot = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"))
      graft.joins.Joins.bloomPruneLeftSemi(Tables.lineitem(s, d), hot,
          "l_orderkey", "o_orderkey", expectedItems = 100000L, fpp = 0.01)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"), decSum2(volDec).as("revenue"))
    },
      // Plain semi-join: the Bloom pre-prune must be result-invisible.
      Sql("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag, l_linestatus""".stripMargin))))
}
