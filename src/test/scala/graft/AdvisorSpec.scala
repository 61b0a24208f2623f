package graft

import org.apache.spark.sql.functions._
import graft.plans.LayoutAdvisor

/** LayoutAdvisor: derives write-time bucketed layouts from a query
  * corpus (table + key from the plans' per-key operators, column set
  * from Catalyst's pruning, buckets from on-disk bytes). */
class AdvisorSpec extends GraftSpec {

  test("advise: picks the hottest key per table and the pruned column union") {
    val li = Tables.lineitem(spark, sf)
    val or = Tables.orders(spark, sf)
    val corpus = Seq(
      // two aggregates on l_orderkey, one join hitting it again (and
      // o_orderkey once) — l_orderkey must win for lineitem
      li.groupBy(col("l_orderkey")).agg(sum(col("l_extendedprice")).as("p")),
      li.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")),
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")),
      // a lone competing key on lineitem — outvoted
      li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n")))
    val specs = LayoutAdvisor.advise(corpus)
    val liSpec = specs.find(_.table == "lineitem").get
    assert(liSpec.key === "l_orderkey")
    // 2 groupBy hits + 1 join-side hit; l_partkey's single hit is outvoted
    assert(liSpec.hits === 3)
    // the column union spans ALL queries that read lineitem, so the
    // losing query class still runs (just without the layout win)
    assert(Set("l_orderkey", "l_extendedprice", "l_quantity", "l_partkey")
      .subsetOf(liSpec.columns.toSet))
    // lineitem (3 hits) ranks above orders (1)
    assert(specs.head.table === "lineitem")
  }

  test("advise: hit counting, pruning enforcement, and bucket sizing") {
    val li = Tables.lineitem(spark, sf)
    val corpus = Seq(
      li.groupBy(col("l_orderkey")).agg(sum(col("l_extendedprice")).as("p")))
    val specs = LayoutAdvisor.advise(corpus)
    assert(specs.size === 1)
    val s0 = specs.head
    assert(s0.table === "lineitem" && s0.key === "l_orderkey" && s0.hits === 1)
    // Catalyst pruned the scan to exactly the two referenced columns —
    // the advice carries them and NOTHING else
    assert(s0.columns.toSet === Set("l_orderkey", "l_extendedprice"))
    assert(s0.columns.head === "l_orderkey")
    // tiny table floors at 8 buckets
    assert(s0.buckets === 8)
    // staged layout: reading an advised column works, a dropped one
    // fails loudly (the enforcement half of "carry only what the
    // query class needs")
    spark.sql("DROP TABLE IF EXISTS adv_spec_li")
    try {
      LayoutAdvisor.stage(spark, s0, "adv_spec_li")
      val t = spark.table("adv_spec_li")
      assert(t.columns.toSet === Set("l_orderkey", "l_extendedprice"))
      val cents = sum(round(col("l_extendedprice") * 100).cast("long")).as("c")
      val got = t.groupBy("l_orderkey").agg(cents)
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortAggregate"), plan)
      val want = li.groupBy("l_orderkey").agg(cents)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === want.toSeq)
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.table("adv_spec_li").select(col("l_quantity")).collect()
      }
    } finally spark.sql("DROP TABLE IF EXISTS adv_spec_li")
  }

  test("advise: join-connected tables get ALIGNED bucket counts (class max)") {
    val li = Tables.lineitem(spark, sf)
    val or = Tables.orders(spark, sf)
    // a tiny target makes the size-derived counts differ (lineitem is
    // ~3x orders' bytes), so alignment is actually observable
    val tgt = 4096L
    val liAlone = LayoutAdvisor.advise(
      Seq(li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))), tgt).head.buckets
    val orAlone = LayoutAdvisor.advise(
      Seq(or.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))), tgt).head.buckets
    assert(liAlone > orAlone, s"precondition: sizes must differ ($liAlone vs $orAlone)")
    val specs = LayoutAdvisor.advise(Seq(
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))), tgt)
    val liS = specs.find(_.table == "lineitem").get
    val orS = specs.find(_.table == "orders").get
    assert(liS.key === "l_orderkey" && orS.key === "o_orderkey")
    // both sides carry the class max — the co-located join stays
    // exchange-free instead of silently re-shuffling the small side
    assert(liS.buckets === liAlone && orS.buckets === liAlone)
  }

  test("advise: benefit signal discounts hits behind selective filters; minBenefitFraction declines staging") {
    val li = Tables.lineitem(spark, sf)
    def rollup(d: org.apache.spark.sql.DataFrame) =
      d.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    // full-table aggregate: the whole table crosses the exchange
    val full = LayoutAdvisor.advise(Seq(rollup(li))).head
    // range filter (~1/3 reaches the aggregate), equality (~1/10)
    val ranged = LayoutAdvisor.advise(Seq(rollup(li.filter(col("l_quantity") > 0)))).head
    val thin = LayoutAdvisor.advise(Seq(rollup(li.filter(col("l_partkey") === 42L)))).head
    assert(full.benefitBytes > 0)
    assert(thin.benefitBytes < ranged.benefitBytes &&
      ranged.benefitBytes < full.benefitBytes,
      s"benefit must fall with filter selectivity: ${thin.benefitBytes} / " +
        s"${ranged.benefitBytes} / ${full.benefitBytes}")
    // the don't-stage threshold: a per-key operator fed by a thin
    // equality slice does not pay for bucketing the whole table...
    assert(LayoutAdvisor.advise(Seq(rollup(li.filter(col("l_partkey") === 42L))),
      minBenefitFraction = 0.5).isEmpty)
    // ...while the unfiltered aggregate clears the same bar, and a
    // corpus that REPEATS the thin query accumulates benefit past it
    assert(LayoutAdvisor.advise(Seq(rollup(li)), minBenefitFraction = 0.5).nonEmpty)
    val repeated = Seq.fill(6)(rollup(li.filter(col("l_partkey") === 42L)))
    assert(LayoutAdvisor.advise(repeated, minBenefitFraction = 0.5).nonEmpty)
    // adviseProjections applies the same threshold
    assert(LayoutAdvisor.adviseProjections(
      Seq(rollup(li.filter(col("l_partkey") === 42L))), perTable = 1,
      minBenefitFraction = 0.5).isEmpty)
  }

  test("advise: hit ties prefer the join-participating key") {
    val li = Tables.lineitem(spark, sf)
    val or = Tables.orders(spark, sf)
    // orders gets ONE agg hit on o_orderpriority and ONE join hit on
    // o_orderkey — the join key must win the tie (co-location pays on
    // the join and every downstream per-key agg; lexicographic order
    // would pick o_orderpriority)
    val specs = LayoutAdvisor.advise(Seq(
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))))
    assert(specs.find(_.table == "orders").get.key === "o_orderkey")
  }

  test("adviseProjections: one projection per hot key, per-class column attribution") {
    val li = Tables.lineitem(spark, sf)
    val or = Tables.orders(spark, sf)
    // orders is hit by TWO key classes: the order key (join + agg = 2
    // hits) and the customer key (1 agg hit); lineitem by one
    val corpus = Seq(
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q")),
      or.groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("v")))
    val specs = LayoutAdvisor.adviseProjections(corpus, perTable = 2)
    val orSpecs = specs.filter(_.table == "orders")
    assert(orSpecs.map(_.key).toSet === Set("o_orderkey", "o_custkey"))
    // per-class columns: the custkey projection carries what ITS query
    // reads (custkey + totalprice) and NOT the orderkey class's columns
    val ck = orSpecs.find(_.key == "o_custkey").get
    assert(ck.columns.toSet === Set("o_custkey", "o_totalprice"))
    val ok = orSpecs.find(_.key == "o_orderkey").get
    assert(!ok.columns.contains("o_totalprice"))
    // the orderkey projections of BOTH tables stay bucket-aligned;
    // the custkey projection sizes independently (its own class)
    val liok = specs.find(s => s.table == "lineitem" && s.key == "l_orderkey").get
    assert(liok.buckets === ok.buckets)
    // perTable=1 collapses to the hottest key only
    val one = LayoutAdvisor.adviseProjections(corpus, perTable = 1)
    assert(one.filter(_.table == "orders").map(_.key) === Seq("o_orderkey"))
    intercept[IllegalArgumentException] {
      LayoutAdvisor.adviseProjections(corpus, perTable = 0)
    }
  }

  test("advise/adviseProjections: keys passing through a RENAME are still counted") {
    val li = Tables.lineitem(spark, sf)
    // the hot key reaches the aggregate via select(...as("k")) — the
    // alias carries a fresh exprId; resolveAliases must walk it back to
    // the leaf or the advisor would drop the actually-hot key
    val corpus = Seq(
      li.select(col("l_orderkey").as("k"), col("l_quantity"))
        .groupBy(col("k")).agg(sum(col("l_quantity")).as("q")))
    val specs = LayoutAdvisor.advise(corpus)
    assert(specs.size === 1)
    assert(specs.head.table === "lineitem" && specs.head.key === "l_orderkey")
    val proj = LayoutAdvisor.adviseProjections(corpus, perTable = 1)
    assert(proj.map(s => (s.table, s.key)) === Seq(("lineitem", "l_orderkey")))
    // a DERIVED key is correctly NOT attributed: bucketing the source
    // column would not co-locate the derived values
    val derived = Seq(li.select((col("l_orderkey") % 7).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n")))
    assert(LayoutAdvisor.advise(derived).isEmpty)
  }

  test("advise and adviseProjections break exact ties identically (first name)") {
    val li = Tables.lineitem(spark, sf)
    // two keys, one agg hit each, neither join-connected: both entry
    // points must pick the lexicographically FIRST (l_orderkey)
    val corpus = Seq(
      li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n")),
      li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n")))
    assert(LayoutAdvisor.advise(corpus).head.key === "l_orderkey")
    assert(LayoutAdvisor.adviseProjections(corpus, perTable = 1).head.key === "l_orderkey")
  }

  test("adviseSorted: hottest filter column range-sorts; a second hot column z-orders") {
    val or = Tables.orders(spark, sf)
    // o_orderdate: 2 range hits; o_totalprice: 1 — date wins slot one
    val corpus = Seq(
      or.where(col("o_orderdate") >= lit("1995-01-01"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")),
      or.where(col("o_orderdate") < lit("1994-01-01") && col("o_totalprice") > 1000.0)
        .agg(count(lit(1)).as("n")))
    val specs = LayoutAdvisor.adviseSorted(corpus)
    assert(specs.size === 1)
    val s0 = specs.head
    assert(s0.table === "orders")
    assert(s0.sortCols === Seq("o_orderdate", "o_totalprice"))
    assert(s0.numFiles === 8)
    // column union spans the corpus reads, sort cols lead
    assert(Set("o_orderdate", "o_totalprice", "o_orderpriority").subsetOf(s0.columns.toSet))
    assert(s0.columns.take(2) === Seq("o_orderdate", "o_totalprice"))
    // minHits=2 drops the single-hit price column back to a range sort
    val strict = LayoutAdvisor.adviseSorted(corpus, minHits = 2)
    assert(strict.head.sortCols === Seq("o_orderdate"))
  }

  test("adviseSorted: resolves renames/casts, skips excluded tables, handles multi-root reads") {
    val d = sf
    // multi-root: the SAME directory listed twice through a union-read —
    // rootPaths has 2 entries; the spec must carry both
    val two = spark.read.parquet(s"$d/orders.parquet", s"$d/orders.parquet")
    val corpus = Seq(
      two.select(col("o_orderdate").as("dt"), col("o_orderkey"))
        .where(col("dt") >= lit("1995-01-01")).agg(count(lit(1)).as("n")))
    val specs = LayoutAdvisor.adviseSorted(corpus)
    assert(specs.size === 1)
    assert(specs.head.sortCols === Seq("o_orderdate"))
    assert(specs.head.paths.size === 2)
    assert(LayoutAdvisor.adviseSorted(corpus, exclude = Set("orders")).isEmpty)
  }

  test("advise + stage: a multi-root read is ONE table and stages ALL its roots") {
    // a relation composed from several directories (multi-file
    // composition is a first-class source feature) must be advised and
    // STAGED as the whole table — keying by rootPaths.head would build
    // the layout from a fraction of the data and silently lose rows
    val half1 = java.nio.file.Files.createTempDirectory("adv_mr1")
    val half2 = java.nio.file.Files.createTempDirectory("adv_mr2")
    spark.sql("DROP TABLE IF EXISTS adv_mr_t")
    try {
      val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
      li.where(col("l_orderkey") % 2 === 0).write.mode("overwrite").parquet(half1.toString)
      li.where(col("l_orderkey") % 2 =!= 0).write.mode("overwrite").parquet(half2.toString)
      val both = spark.read.parquet(half1.toString, half2.toString)
      val corpus = Seq(both.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")))
      val specs = LayoutAdvisor.advise(corpus)
      assert(specs.size === 1)
      val spec = specs.head
      assert(spec.key === "l_orderkey")
      assert(spec.path.split(',').length === 2, s"spec must carry both roots: ${spec.path}")
      LayoutAdvisor.stage(spark, spec, "adv_mr_t")
      assert(spark.table("adv_mr_t").count() === li.count(),
        "staged layout must contain EVERY root's rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS adv_mr_t")
      GateFixtures.deleteRecursively(half1)
      GateFixtures.deleteRecursively(half2)
    }
  }

  test("route: each query gets the projection ITS plan wants; coverage and zero-hit guards hold") {
    spark.sql("DROP TABLE IF EXISTS route_ok")
    spark.sql("DROP TABLE IF EXISTS route_ck")
    try {
      val li = Tables.lineitem(spark, sf)
      val or = Tables.orders(spark, sf)
      // a two-hot-key corpus on orders: per-custkey aggregates AND
      // per-orderkey joins
      val corpus = Seq(
        or.groupBy(col("o_custkey")).agg(count(lit(1)).as("n")),
        or.groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("s")),
        li.join(or, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
      val specs = LayoutAdvisor.adviseProjections(corpus, perTable = 2)
      val orProj = specs.filter(_.table == "orders")
      assert(orProj.map(_.key).toSet === Set("o_custkey", "o_orderkey"))
      val staged = orProj.map { s =>
        val name = if (s.key == "o_custkey") "route_ck" else "route_ok"
        LayoutAdvisor.stage(spark, s, name)
        s -> name
      }
      // a custkey-grouping query routes to the custkey projection...
      val byCust = LayoutAdvisor.route(
        or.groupBy(col("o_custkey")).agg(count(lit(1)).as("n")), staged)
      assert(byCust === Map("orders" -> "route_ck"))
      // ...an orderkey-join query to the orderkey projection — but only
      // when the join would SHUFFLE: a broadcast join has no exchange
      // for the bucket to remove, so at test scale (both sides under
      // the threshold) the router must leave the query flat
      def ordQ = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(!LayoutAdvisor.route(ordQ, staged).contains("orders"),
        "a broadcastable join side must not attract a bucket route")
      val thr = "spark.sql.autoBroadcastJoinThreshold"
      val savedThr = spark.conf.get(thr)
      val byOrd = try {
        spark.conf.set(thr, "-1")
        LayoutAdvisor.route(ordQ, staged)
      } finally spark.conf.set(thr, savedThr)
      assert(byOrd.get("orders") === Some("route_ok"))
      // a query reading a column NO projection carries stays flat
      // (the corpus never read o_orderdate, so neither projection has it)
      val wide = LayoutAdvisor.route(
        or.groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("m")), staged)
      assert(!wide.contains("orders"),
        s"projection lacking o_orderdate must not serve the query: $wide")
      // a query with no per-key operator on orders stays flat too
      val noKey = LayoutAdvisor.route(
        or.select(col("o_totalprice")).filter(col("o_totalprice") > 100.0), staged)
      assert(!noKey.contains("orders"))
      // routed result == flat result through the actual redirect machinery
      val q = or.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val flat = q.collect().map(_.toString).sorted.toSeq
      Tables.redirect(sf, "orders", byCust("orders"))
      try {
        val routed = Tables.orders(spark, sf).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n")).collect().map(_.toString).sorted.toSeq
        assert(routed === flat)
      } finally Tables.clearRedirects()
    } finally {
      spark.sql("DROP TABLE IF EXISTS route_ok")
      spark.sql("DROP TABLE IF EXISTS route_ck")
    }
  }

  test("adviseAll: bucketing wins per-key tables, sorted advice covers the rest") {
    val li = Tables.lineitem(spark, sf)
    val or = Tables.orders(spark, sf)
    val corpus = Seq(
      // lineitem: per-key aggregate AND a range filter — bucketing
      // wins the table, so no sorted spec for it
      li.where(col("l_shipdate") >= lit("1995-01-01"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q")),
      // orders: predicate-shaped presence only — sorted advice
      or.where(col("o_orderdate") >= lit("1995-06-01")).agg(count(lit(1)).as("n")))
    val (bucketed, sorted) = LayoutAdvisor.adviseAll(corpus)
    assert(bucketed.map(_.table) === Seq("lineitem"))
    assert(sorted.map(_.table) === Seq("orders"))
    assert(sorted.head.sortCols === Seq("o_orderdate"))
  }

  test("stageSorted: staged layout prunes files on the advised predicate") {
    val or = Tables.orders(spark, sf)
    val corpus = Seq(
      or.where(col("o_orderdate") >= lit("1995-01-01"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v")))
    val s0 = LayoutAdvisor.adviseSorted(corpus).head
    assert(s0.sortCols === Seq("o_orderdate"))
    val out = java.nio.file.Files.createTempDirectory("adv_sorted_spec").resolve("orders").toString
    try {
      LayoutAdvisor.stageSorted(spark, s0, out)
      val staged = spark.read.parquet(out)
      assert(staged.columns.toSet === s0.columns.toSet)
      // clustering proof: the staged files cover DISJOINT date ranges,
      // so a narrow date predicate draws rows from strictly fewer files
      // than the layout has — the property footer-stat pruning acts on
      val allFiles = staged.select(input_file_name()).distinct().count()
      assert(allFiles > 1, "need multiple files to observe clustering")
      val hitFiles = staged.where(col("o_orderdate") >= lit("1998-06-01"))
        .select(input_file_name()).distinct().count()
      assert(hitFiles < allFiles,
        s"narrow range should touch fewer than all $allFiles files, touched $hitFiles")
      // and the values match the flat read
      val want = or.where(col("o_orderdate") >= lit("1995-01-01"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
        .orderBy("o_orderpriority").collect().map(r => (r.getString(0), r.getLong(1)))
      val got = staged.where(col("o_orderdate") >= lit("1995-01-01"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
        .orderBy("o_orderpriority").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq === want.toSeq)
    } finally GateFixtures.deleteRecursively(
      java.nio.file.Paths.get(out).getParent)
  }

  test("adviseDerivedCents + RewriteStoredCents: stored cents read, doubles pruned, exact values") {
    val li = Tables.lineitem(spark, sf)
    val cents = (c: String) => round(col(c) * 100).cast("long")
    val corpus = Seq(
      li.filter(col("l_shipdate") <= lit("1998-09-01").cast(org.apache.spark.sql.types.TimestampType))
        .groupBy(col("l_returnflag")).agg(sum(cents("l_quantity")).as("q")),
      li.agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("r")))
    val specs = LayoutAdvisor.adviseDerivedCents(corpus)
    assert(specs.size === 1)
    val s0 = specs.head
    assert(s0.table === "lineitem")
    assert(s0.sourceCols.toSet === Set("l_quantity", "l_extendedprice", "l_discount"))
    // the corpus's one filter column becomes the clustering choice
    assert(s0.sortCol === Some("l_shipdate"))
    spark.sql("DROP TABLE IF EXISTS dcs_lineitem")
    try {
      LayoutAdvisor.stageDerived(spark, s0, "dcs_lineitem")
      // the query keeps its round(x*100) arithmetic VERBATIM
      val q = spark.table("dcs_lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(cents("l_quantity")).as("q"),
          sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("r"))
      val plan = q.queryExecution.executedPlan.toString
      // rewritten: stored longs read, NO round left anywhere, and
      // pruning dropped every raw double from the scan
      assert(plan.contains("l_quantity_cents"), s"expected stored cents in plan:\n$plan")
      assert(!plan.toLowerCase.contains("round("), s"round must be rewritten away:\n$plan")
      val scanSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!scanSchema.contains("l_quantity:") && !scanSchema.contains("l_extendedprice:"),
        s"raw doubles must be pruned from the scan:\n$scanSchema")
      val want = li.groupBy(col("l_returnflag"))
        .agg(sum(cents("l_quantity")).as("q"),
          sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("r"))
        .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val got = q.orderBy("l_returnflag").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === want.toSeq)
      // a projection that DROPS the cents column blocks the rewrite
      // instead of producing an unresolved plan — falls back to compute
      val blocked = spark.table("dcs_lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
        .groupBy(col("l_returnflag")).agg(sum(cents("l_quantity")).as("q"))
      assert(blocked.queryExecution.executedPlan.toString.toLowerCase.contains("round("))
      assert(blocked.orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq === want.map(t => (t._1, t._2)).toSeq)
      // an UNMARKED table with a *_cents column is never rewritten
      spark.sql("DROP TABLE IF EXISTS dcs_unmarked")
      try {
        li.limit(100).withColumn("l_quantity_cents", lit(0L))
          .write.mode("overwrite").saveAsTable("dcs_unmarked")
        val unmarked = spark.table("dcs_unmarked")
          .agg(sum(cents("l_quantity")).as("q"))
        assert(unmarked.queryExecution.executedPlan.toString.toLowerCase.contains("round("),
          "rewrite must not fire without the table property")
      } finally spark.sql("DROP TABLE IF EXISTS dcs_unmarked")
    } finally spark.sql("DROP TABLE IF EXISTS dcs_lineitem")
  }

  test("stageWithDerived: one table composes exchange-free AND stored-cents (streams, no round, doubles pruned)") {
    val li = Tables.lineitem(spark, sf)
    val cents = (c: String) => round(col(c) * 100).cast("long")
    val corpus = Seq(
      li.groupBy(col("l_orderkey")).agg(sum(cents("l_quantity")).as("q")))
    val spec = LayoutAdvisor.advise(corpus).head
    spark.sql("DROP TABLE IF EXISTS swd_lineitem")
    try {
      LayoutAdvisor.stageWithDerived(spark, spec, Seq("l_quantity"), "swd_lineitem")
      val q = spark.table("swd_lineitem")
        .groupBy(col("l_orderkey")).agg(sum(cents("l_quantity")).as("q"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortAggregate") && !plan.contains("Exchange"),
        s"bucketed half must still stream exchange-free:\n$plan")
      assert(plan.contains("l_quantity_cents") && !plan.toLowerCase.contains("round("),
        s"derived half must serve the stored longs:\n$plan")
      val scanSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!scanSchema.contains("l_quantity:"),
        s"raw double must be pruned from the scan:\n$scanSchema")
      val wantRows = li.groupBy(col("l_orderkey")).agg(sum(cents("l_quantity")).as("q"))
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(q.orderBy("l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === wantRows.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS swd_lineitem")
  }

  test("bucketsFor: scales with bytes, floors at 8, caps at 4096") {
    assert(LayoutAdvisor.bucketsFor(0L, 1L << 30) === 8)
    assert(LayoutAdvisor.bucketsFor(100L << 30, 1L << 30) === 100)
    assert(LayoutAdvisor.bucketsFor(100L << 40, 1L << 30) === 4096)
  }

  test("DECIMAL money idiom: MakeDecimal on verified-finite columns only; NaN keeps the long idiom") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dec_idiom")
    spark.sql("DROP TABLE IF EXISTS dec_t")
    try {
      val dir = root.resolve("money.parquet").toString
      // a: clean 2-dp money; b: same but one NaN row
      (1 to 400).map(i => (i.toLong, i * 0.25, if (i == 7) Double.NaN else i * 0.5))
        .toDF("k", "amt", "bad").write.parquet(dir)
      val spec = LayoutAdvisor.DerivedSpec(dir, "money", Seq("amt", "bad"), None, 8, 2)
      LayoutAdvisor.stageDerived(spark, spec, "dec_t")
      val props = spark.sql("SHOW TBLPROPERTIES dec_t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      // the NaN column was DECLINED at stage time: no cents stored for
      // it, neither property names it (under ANSI the staging cast
      // itself would have thrown on NaN otherwise)
      assert(props(graft.plans.RewriteStoredCents.Property) === "amt")
      assert(props(graft.plans.RewriteStoredCents.FiniteProperty) === "amt",
        "only the NaN-free column may carry the rewrites")
      assert(!spark.table("dec_t").columns.contains("bad_cents"))
      def planOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString
      // finite column: decimal cast rewritten to MakeDecimal over the
      // stored longs, raw double pruned from the scan, values exact
      val qa = spark.table("dec_t").agg(sum(col("amt").cast(DecimalType(12, 2)))
        .cast(DoubleType).as("s"))
      assert(planOf(qa).contains("MakeDecimal"), planOf(qa))
      assert(!planOf(qa).linesIterator.find(_.contains("ReadSchema")).getOrElse("")
        .contains("amt:"), planOf(qa))
      val flatA = spark.read.parquet(dir).agg(sum(col("amt").cast(DecimalType(12, 2)))
        .cast(DoubleType).as("s")).collect()(0).getDouble(0)
      assert(qa.collect()(0).getDouble(0) === flatA)
      // ...and the LONG idiom rewrites on it too
      val qal = spark.table("dec_t").agg(sum(round(col("amt") * 100).cast("long")).as("s"))
      assert(!planOf(qal).toLowerCase.contains("round("), planOf(qal))
      assert(qal.collect()(0).getLong(0) === spark.read.parquet(dir)
        .agg(sum(round(col("amt") * 100).cast("long")).as("s")).collect()(0).getLong(0))
      // NaN-bearing column: NEITHER idiom is rewritten (no stored cents
      // exist — plan shape only; evaluating would throw under ANSI on
      // both the flat and the table path, identically)
      val qb = spark.table("dec_t").agg(sum(col("bad").cast(DecimalType(12, 2)))
        .cast(DoubleType).as("s"))
      assert(!planOf(qb).contains("MakeDecimal"),
        s"declined column must not get the decimal rewrite:\n${planOf(qb)}")
      val qbl = spark.table("dec_t").agg(sum(round(col("bad") * 100).cast("long")).as("s"))
      assert(planOf(qbl).toLowerCase.contains("round("),
        s"declined column must keep its verbatim arithmetic:\n${planOf(qbl)}")
      // guards: scale ≠ 2 and precision > 18 are never rewritten
      for (dt <- Seq(DecimalType(12, 1), DecimalType(20, 2))) {
        val q = spark.table("dec_t").agg(sum(col("amt").cast(dt)).as("s"))
        assert(!planOf(q).contains("MakeDecimal"),
          s"$dt must not match the decimal idiom:\n${planOf(q)}")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS dec_t")
      GateFixtures.deleteRecursively(root)
    }
  }

  test("routeAll: heterogeneous candidates — clustered projection wins filter shapes, bucketed wins key shapes") {
    spark.sql("DROP TABLE IF EXISTS ra_sorted")
    spark.sql("DROP TABLE IF EXISTS ra_bucketed")
    try {
      val or = Tables.orders(spark, sf)
      val corpus = Seq(
        or.where(col("o_orderdate") >= lit("1997-01-01"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")),
        or.groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("s")))
      // one SORTED candidate (adviseSorted → stageSorted files attached
      // as a plain external table) and one BUCKETED candidate
      val sspec = LayoutAdvisor.adviseSorted(corpus,
        exclude = Set.empty).find(_.table == "orders").get
      assert(sspec.sortCols === Seq("o_orderdate"))
      val sortedDir = java.nio.file.Files.createTempDirectory("ra_sorted")
      LayoutAdvisor.stageSorted(spark, sspec, sortedDir.resolve("data").toString)
      val ddl = spark.read.parquet(sortedDir.resolve("data").toString).schema.toDDL
      spark.sql(s"CREATE TABLE ra_sorted ($ddl) USING parquet " +
        s"LOCATION '${sortedDir.resolve("data")}'")
      val bspec = LayoutAdvisor.adviseProjections(corpus, perTable = 1)
        .find(_.table == "orders").get
      assert(bspec.key === "o_custkey")
      LayoutAdvisor.stage(spark, bspec, "ra_bucketed")
      val cands = Seq(
        LayoutAdvisor.Projection.sorted(sspec, "ra_sorted"),
        LayoutAdvisor.Projection.bucketed(bspec, "ra_bucketed"))
      // the range-filter query routes to the CLUSTERED candidate (its
      // pruning is the only nonzero score)...
      val byFilter = LayoutAdvisor.routeAll(
        or.where(col("o_orderdate") >= lit("1997-01-01"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")), cands)
      assert(byFilter.get("orders") === Some("ra_sorted"), byFilter.toString)
      // ...the per-custkey aggregate to the BUCKETED one
      val byKey = LayoutAdvisor.routeAll(
        or.groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("s")), cands)
      assert(byKey.get("orders") === Some("ra_bucketed"), byKey.toString)
      // routed-through-redirect result equals flat for the sorted kind
      val flat = or.where(col("o_orderdate") >= lit("1997-01-01"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(_.toString).sorted.toSeq
      Tables.redirect(sf, "orders", "ra_sorted")
      try {
        val routed = Tables.orders(spark, sf)
          .where(col("o_orderdate") >= lit("1997-01-01"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          .collect().map(_.toString).sorted.toSeq
        assert(routed === flat)
      } finally Tables.clearRedirects()
      GateFixtures.deleteRecursively(sortedDir)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ra_sorted")
      spark.sql("DROP TABLE IF EXISTS ra_bucketed")
    }
  }

  test("explainRoutes: the routing decision is a queryable DataFrame (round-12)") {
    import spark.implicits._
    import graft.plans.LayoutAdvisor
    val dir = java.nio.file.Files.createTempDirectory("adv_explain")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    (1L to 2000L).map(i => (i % 50, i % 9, i * 2.0)).toDF("k", "c", "v")
      .write.parquet(dir.resolve("t.parquet").toString)
    val path = graft.plans.MaterializedJoins.leafPath(
      spark.read.parquet(dir.resolve("t.parquet").toString))
    spark.sql("DROP TABLE IF EXISTS adv_explain_k")
    spark.sql("DROP TABLE IF EXISTS adv_explain_c")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    GateFixtures.deleteRecursively(java.nio.file.Paths.get(wh, "adv_explain_k"))
    GateFixtures.deleteRecursively(java.nio.file.Paths.get(wh, "adv_explain_c"))
    LayoutAdvisor.stage(spark,
      LayoutAdvisor.LayoutSpec(path, "t", "k", 4, Seq("k", "v"), 1), "adv_explain_k")
    LayoutAdvisor.stage(spark,
      LayoutAdvisor.LayoutSpec(path, "t", "c", 4, Seq("c", "v"), 1), "adv_explain_c")
    try {
      val staged = Seq(
        LayoutAdvisor.Projection("t", "adv_explain_k", Some("k"), Nil, Nil,
          Some(Seq("k", "v"))),
        LayoutAdvisor.Projection("t", "adv_explain_c", Some("c"), Nil, Nil,
          Some(Seq("c", "v"))))
      val q = spark.read.parquet(dir.resolve("t.parquet").toString)
        .groupBy(col("k")).agg(sum(col("v")).as("s"))
      val rows = LayoutAdvisor.explainRoutes(q, staged).collect()
      assert(rows.length === 2, rows.mkString("\n"))
      val byCat = rows.map(r => r.getAs[String]("catalogTable") -> r).toMap
      // the k-bucketed projection wins (per-key agg on k); chosen flagged
      assert(byCat("adv_explain_k").getAs[Boolean]("chosen"))
      assert(byCat("adv_explain_k").getAs[Double]("exchangeBytes") > 0.0)
      // the c-bucketed one is ineligible — it does not carry k, and the
      // reason says so
      val cRow = byCat("adv_explain_c")
      assert(!cRow.getAs[Boolean]("chosen"))
      assert(!cRow.getAs[Boolean]("eligible"))
      assert(cRow.getAs[String]("reason").contains("missing-columns"), cRow.toString)
      // explainRoutes IS routeAll's decision
      assert(LayoutAdvisor.routeAll(q, staged) === Map("t" -> "adv_explain_k"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS adv_explain_k")
      spark.sql("DROP TABLE IF EXISTS adv_explain_c")
    }
  }

  test("redirect serving path refuses a layout whose base drifted (round-12)") {
    import spark.implicits._
    import graft.plans.LayoutAdvisor
    val dir = java.nio.file.Files.createTempDirectory("adv_fresh")
    sys.addShutdownHook(GateFixtures.deleteRecursively(dir))
    (1L to 300L).map(i => (i, i % 9, i * 2.0)).toDF("k", "c", "v")
      .write.parquet(dir.resolve("t.parquet").toString)
    val path = graft.plans.MaterializedJoins.leafPath(
      spark.read.parquet(dir.resolve("t.parquet").toString))
    val spec = LayoutAdvisor.LayoutSpec(path, "t", "k", 4, Seq("k", "c", "v"), 1)
    spark.sql("DROP TABLE IF EXISTS adv_fresh_a")
    spark.sql("DROP TABLE IF EXISTS adv_fresh_b")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    GateFixtures.deleteRecursively(java.nio.file.Paths.get(wh, "adv_fresh_a"))
    GateFixtures.deleteRecursively(java.nio.file.Paths.get(wh, "adv_fresh_b"))
    LayoutAdvisor.stage(spark, spec, "adv_fresh_a")
    LayoutAdvisor.stage(spark, spec, "adv_fresh_b")
    try {
      // fresh base: redirect serves (one-time verification per triple)
      Tables.redirect(dir.toString, "t", "adv_fresh_a")
      assert(Tables(spark, dir.toString, "t").count() === 300L)
      Tables.clearRedirects()
      // grow the base; an UNVERIFIED triple must now refuse loudly
      (301L to 350L).map(i => (i, i % 9, i * 2.0)).toDF("k", "c", "v")
        .write.mode("append").parquet(dir.resolve("t.parquet").toString)
      Tables.redirect(dir.toString, "t", "adv_fresh_b")
      val e = intercept[IllegalStateException] {
        Tables(spark, dir.toString, "t").count()
      }
      assert(e.getMessage.contains("drifted"), e.getMessage)
    } finally {
      Tables.clearRedirects()
      spark.sql("DROP TABLE IF EXISTS adv_fresh_a")
      spark.sql("DROP TABLE IF EXISTS adv_fresh_b")
    }
  }

  test("ProbeAdvisorSweep.checkAdvised: all 17 rel queries return identical rows on advised layouts and flat tables") {
    import java.nio.file.Files
    // a private copy of sf0.001: staging persists TableStats for the
    // base paths in the shared warehouse, and measured stats change the
    // EagerAggregation and advisor decisions other specs assert on `sf`
    val d = Files.createTempDirectory("adv_check")
    new java.io.File(sf).listFiles().foreach(f => Files.copy(f.toPath, d.resolve(f.getName)))
    val tag = d.toString.replaceAll("[^A-Za-z0-9]", "_")
    val wh = graft.plans.TableStats.warehouseOf(spark)
    try {
      val (redirects, checks) =
        ProbeAdvisorSweep.checkAdvised(spark, d.toString, BenchBig.Rel)
      assert(redirects.nonEmpty, "no staged layout: the check would compare flat with flat")
      assert(checks.map(_.query) === BenchBig.Rel && checks.size === 17)
      val bad = checks.filterNot(_.identical)
      assert(bad.isEmpty, bad.map(c => s"${c.query}: ${c.verdict}").mkString("; "))
    } finally {
      Tables.clearRedirects()
      spark.catalog.listTables().collect().map(_.name).filter(_.endsWith(tag))
        .foreach(t => spark.sql(s"DROP TABLE `$t`"))
      new java.io.File(wh).listFiles().filter(_.getName.endsWith(tag))
        .foreach(f => GateFixtures.deleteRecursively(f.toPath))
      // the copy's stats records: base paths and staged-table aliases
      new java.io.File(wh, "_graft_stats").listFiles().filter { f =>
        val key = Files.readAllLines(f.toPath).get(0)
        key.contains(d.toString) || key.endsWith(tag)
      }.foreach(f => Files.delete(f.toPath))
      GateFixtures.deleteRecursively(d)
    }
  }
}
