package graft

import org.apache.spark.sql.functions._

/** The advisor END-TO-END relational sweep (round-10): feed the FULL
  * 17-query q* suite to LayoutAdvisor as its corpus, stage exactly what
  * it advises, redirect the engine's table resolution at the staged
  * layouts (Tables.redirect — zero query changes), and run all 17 over
  * them: the product path a user would actually run,
  * advise(corpus) → stage → query.
  *
  * Staging is one-time: a fresh JVM re-ATTACHES the already-written
  * bucketed files as external tables (TabularWriter.attach — the
  * local-mode stand-in for a persistent metastore), so
  * process-interleaved protocol runs (fresh JVM per rep) don't re-pay
  * the layout write.
  *
  * Usage: runMain graft.ProbeAdvisorSweep [dataDir] [reps] [layout|flat|check] [names]
  * Prints one BenchBig-shaped JSON line; `flat` runs the identical
  * suite without redirects (the A/B control in the same harness);
  * `check` runs every query BOTH ways and asserts row-identical
  * results ([[checkAdvised]]).
  */
object ProbeAdvisorSweep {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/benchdata/x200")
    val reps = if (args.length > 1) args(1).toInt else 1
    val mode = if (args.length > 2) args(2) else "layout"
    val names = if (args.length > 3) args(3).split(",").toSeq else BenchBig.Rel
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    if (mode == "check") {
      val (_, checks) = checkAdvised(spark, d, names)
      checks.foreach(c => println(s"[check] ${c.query}: ${c.verdict}"))
      finishCheck(spark, checks)
      return
    }
    if (mode == "explain") {
      // plan audit over the advised layouts (e.g. q8: every dim must
      // BROADCAST onto the bucketed fact join — a dim that sort-merges
      // would re-shuffle the fact side and void the layout)
      ensureAdvised(spark, d)
      names.foreach { n =>
        println(s"===== $n (advisor layouts) =====")
        SparkEntry.queries(n)(spark, d).explain("formatted")
      }
      spark.stop()
      return
    }
    if (mode == "routedcheck") {
      val staged = ensureProjections(spark, d)
      val checks = names.map { n =>
        Tables.clearRedirects()
        val routes = graft.plans.LayoutAdvisor.routeAll(
          SparkEntry.queries(n)(spark, d), staged)
        routes.foreach { case (t, ct) => Tables.redirect(d, t, ct) }
        val routed = rows(spark, d, n)
        Tables.clearRedirects()
        val c = RowCheck(n, routed, rows(spark, d, n))
        println(s"[check] $n -> ${routes.values.mkString(",")}: ${c.verdict}")
        c
      }
      finishCheck(spark, checks)
      return
    }
    if (mode == "denormexplain") {
      val staged = ensureProjections(spark, d)
      val metas = ensureDenorm(spark, d)
      val rollups = ensureRollups(spark, d)
      names.foreach { n =>
        Tables.clearRedirects()
        val routes = denormAwareRoutes(spark, d, n, staged, metas, rollups)
        routes.foreach { case (t, ct) => Tables.redirect(d, t, ct) }
        println(s"===== $n (denorm + rollup + routed) =====")
        SparkEntry.queries(n)(spark, d).explain("formatted")
      }
      spark.stop()
      return
    }
    if (mode == "denormcheck") {
      val staged = ensureProjections(spark, d)
      val metas = ensureDenorm(spark, d) // registered process-wide
      val rollups = ensureRollups(spark, d)
      val checks = names.map { n =>
        Tables.clearRedirects()
        val routes = denormAwareRoutes(spark, d, n, staged, metas, rollups)
        routes.foreach { case (t, ct) => Tables.redirect(d, t, ct) }
        val served = rows(spark, d, n)
        Tables.clearRedirects()
        metas.foreach(m => graft.plans.MaterializedJoins.deregister(m.catalogTable))
        rollups.foreach(m => graft.plans.MaterializedAggs.deregister(m.catalogTable))
        val flat = try rows(spark, d, n) finally {
          metas.foreach(graft.plans.MaterializedJoins.register)
          rollups.foreach(graft.plans.MaterializedAggs.register)
        }
        val c = RowCheck(n, served, flat)
        println(s"[check] $n: ${c.verdict}")
        c
      }
      finishCheck(spark, checks)
      return
    }
    if (mode == "rollupab") {
      // SAME-STATE A/B: the full denorm+routing composition WITH the
      // aggregate rollups registered vs WITHOUT (everything else
      // identical, same session, same page cache) — the honest
      // decomposition of what the rollups alone buy
      val staged = ensureProjections(spark, d)
      val metas = ensureDenorm(spark, d)
      val rollups = ensureRollups(spark, d)
      def side(tag: String): Map[String, Double] = {
        val routeOf = names.map { n =>
          Tables.clearRedirects()
          n -> denormAwareRoutes(spark, d, n, staged, metas, rollups)
        }.toMap
        def once(n: String): Double = {
          Tables.clearRedirects()
          routeOf(n).foreach { case (t, ct) => Tables.redirect(d, t, ct) }
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(n)(spark, d)
          df.select(sum(xxhash64(df.columns.map(col): _*).cast("double")).as("h"))
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          GraftSession.clearSessionState(spark)
          dt
        }
        names.foreach(once) // warm-up
        names.map(n => n -> (1 to math.max(reps, 2)).map(_ => once(n)).min).toMap
      }
      val on = side("on")
      rollups.foreach(m => graft.plans.MaterializedAggs.deregister(m.catalogTable))
      val off = side("off")
      rollups.foreach(graft.plans.MaterializedAggs.register)
      val qs = names.map(n => JsonOut.q(n) +
        s""":{"on":${on(n)},"off":${off(n)}}""").mkString("{", ",", "}")
      println(s"""{"metric":"rollup_ab","queries":$qs,"sf":${JsonOut.q(d)}}""")
      spark.stop()
      return
    }
    if (mode == "layout") ensureAdvised(spark, d)
    // routed: one projection per hot key staged; each query's redirects
    // come from ITS OWN plan (LayoutAdvisor.route) — computed once here
    // on the flat plans, installed per query inside the timing loop
    val routeOf: Map[String, Map[String, String]] = if (mode == "routed") {
      val staged = ensureProjections(spark, d)
      Tables.clearRedirects()
      names.map { n =>
        val r = graft.plans.LayoutAdvisor.routeAll(
          SparkEntry.queries(n)(spark, d), staged)
        println(s"[route] $n -> ${r.map { case (t, c) => s"$t=$c" }.mkString(" ") }")
        n -> r
      }.toMap
    } else if (mode == "denorm") {
      // denorm: BOTH materialized registries are live for the whole run
      // (RewriteMaterializedJoin serves the join regions,
      // RewriteMaterializedAgg the aggregate-form and key-set shapes),
      // and projection routing covers the rest — EXCEPT the member
      // tables of a query a rewrite fires on: redirecting those would
      // point the fact leaf at a projection and void the match
      val staged = ensureProjections(spark, d)
      val metas = ensureDenorm(spark, d)
      val rollups = ensureRollups(spark, d)
      names.map { n =>
        Tables.clearRedirects()
        n -> denormAwareRoutes(spark, d, n, staged, metas, rollups)
      }.toMap
    } else Map.empty

    def once(name: String): Double = {
      if (mode == "routed" || mode == "denorm") {
        Tables.clearRedirects()
        routeOf(name).foreach { case (t, ct) => Tables.redirect(d, t, ct) }
      }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, d)
      df.select(sum(xxhash64(df.columns.map(col): _*).cast("double")).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def clean(name: String): Double = {
      val dt = once(name)
      GraftSession.clearSessionState(spark)
      dt
    }
    names.foreach(clean) // warm-up pass (JIT/codegen + page cache)
    val all = names.map(n => n -> (1 to reps).map(_ => clean(n)))
    val qs = all.map { case (k, v) => JsonOut.q(k) + ":" + v.min }.mkString("{", ",", "}")
    println(s"""{"metric":"advisor_sweep","mode":${JsonOut.q(mode)},"queries":$qs,"sf":${JsonOut.q(d)}}""")
    val rs = all.map { case (k, v) =>
      JsonOut.q(k) + ":" + v.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    System.err.println(s"""{"reps":$rs}""")
    spark.stop()
  }

  /** One query's rows on staged layouts (`served`) against flat tables. */
  private[graft] case class RowCheck(query: String, servedRows: Int,
      flatRows: Int, identical: Boolean) {
    def verdict: String =
      if (identical) "IDENTICAL" else s"MISMATCH ($servedRows vs $flatRows rows)"
  }

  private object RowCheck {
    def apply(query: String, served: Seq[String], flat: Seq[String]): RowCheck =
      RowCheck(query, served.size, flat.size, served == flat)
  }

  /** Query `n`'s result rows as sorted strings: the rel suite is
    * integer-exact by construction, so exact equality is the contract,
    * not a tolerance. */
  private def rows(spark: org.apache.spark.sql.SparkSession, d: String,
      n: String): Seq[String] =
    SparkEntry.queries(n)(spark, d).collect().map(_.toString).sorted.toSeq

  /** Print the check summary line, stop the session, exit 1 on any
    * mismatch. */
  private def finishCheck(spark: org.apache.spark.sql.SparkSession,
      checks: Seq[RowCheck]): Unit = {
    val bad = checks.count(!_.identical)
    println(s"""{"metric":"advisor_check","bad":$bad,"n":${checks.size}}""")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** The `check` mode: advise and stage over the corpus
    * ([[ensureAdvised]]), then run each of `names` with the advised
    * redirects installed and on the flat tables. Returns the redirects
    * and one [[RowCheck]] per query; leaves no redirect installed. */
  private[graft] def checkAdvised(spark: org.apache.spark.sql.SparkSession,
      d: String, names: Seq[String]): (Seq[(String, String)], Seq[RowCheck]) = {
    val redirects = try ensureAdvised(spark, d) finally Tables.clearRedirects()
    val checks = names.map { n =>
      redirects.foreach { case (t, ct) => Tables.redirect(d, t, ct) }
      val layout = try rows(spark, d, n) finally Tables.clearRedirects()
      RowCheck(n, layout, rows(spark, d, n))
    }
    (redirects, checks)
  }

  /** This query's redirects under the denorm+routing composition: the
    * registry is live, so the plan ALREADY shows which tables the
    * materialized join absorbed — route only what still reads flat.
    * Member tables of a FIRED meta are excluded from routing entirely
    * (their remaining flat reads, e.g. q21's self-join branches, must
    * keep the base path the meta records). */
  private[graft] def denormAwareRoutes(spark: org.apache.spark.sql.SparkSession, d: String,
      n: String, staged: Seq[graft.plans.LayoutAdvisor.Projection],
      metas: Seq[graft.plans.MaterializedJoins.Meta],
      rollups: Seq[graft.plans.MaterializedAggs.Meta] = Nil): Map[String, String] = {
    val df = SparkEntry.queries(n)(spark, d)
    val firedMetas = metas.filter(m => graft.plans.MaterializedJoins.fired(df, m.catalogTable))
    val firedRollups = rollups.filter(m => graft.plans.MaterializedAggs.fired(df, m.catalogTable))
    // members of a FIRED rewrite keep their flat base paths: redirecting
    // them would point the leaf at a projection and void the match on
    // the next (per-execution) optimization
    val members = firedMetas.flatMap(m => m.fact +: m.dims.map(_.table)).toSet ++
      firedRollups.map(_.fact)
    val routes = graft.plans.LayoutAdvisor.routeAll(df, staged)
      .filterNot { case (t, _) => members(t) }
    println(s"[route] $n denorm=${firedMetas.map(_.catalogTable).mkString(",")} " +
      s"rollup=${firedRollups.map(_.catalogTable).mkString(",")} " +
      s"routes=${routes.map { case (t, c) => s"$t=$c" }.mkString(" ")}")
    routes
  }

  /** Advise, stage (or fresh-JVM re-attach) and REGISTER the corpus's
    * materialized-join projections. Registration is process-wide and
    * stays live — this is the product mode where
    * [[graft.plans.RewriteMaterializedJoin]] serves every query whose
    * join subtree the staged star subsumes. */
  private[graft] def ensureDenorm(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.MaterializedJoins.Meta] = {
    Tables.clearRedirects()
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.adviseDenormalized(corpus,
      targetBucketBytes = 64L << 20, minHits = 2)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    specs.map { spec =>
      val t = s"adv_denorm_${spec.fact}$tag"
      println(s"[advise] denorm ${spec.fact} + ${spec.dims.map(_.table).mkString("+")} " +
        s"bucket=${spec.bucketKey.getOrElse("-")}/${spec.buckets} " +
        s"cols=${spec.columns.size} cents=${spec.centsCols.mkString(",")} hits=${spec.hits}")
      graft.plans.MaterializedJoins.all.find(_.catalogTable == t).getOrElse {
        val loc = java.nio.file.Paths.get(wh, t)
        val t0 = System.nanoTime()
        val attached =
          if (java.nio.file.Files.exists(loc.resolve("_SUCCESS")) &&
              !spark.catalog.tableExists(t)) {
            try {
              val m = graft.plans.MaterializedJoins.attachDenorm(spark, spec, t, loc.toString)
              println(f"[advise] attached $t (${(System.nanoTime() - t0) / 1e9}%.1f s)")
              Some(m)
            } catch {
              case e: IllegalArgumentException =>
                println(s"[advise] $t sidecar mismatch (${e.getMessage.take(80)}…) — re-staging")
                None
            }
          } else None
        attached.getOrElse {
          if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE `$t`")
          GateFixtures.deleteRecursively(loc)
          val m = graft.plans.MaterializedJoins.stageDenorm(spark, spec, t)
          println(f"[advise] staged $t (one-time write, ${(System.nanoTime() - t0) / 1e9}%.1f s) " +
            s"lossless=${m.dims.map(dd => s"${dd.table}:${dd.lossless}").mkString(",")}")
          m
        }
      }
    }
  }

  /** Advise, stage (or fresh-JVM re-attach) and REGISTER the corpus's
    * materialized AGGREGATE rollups (round-12): per-orderkey and
    * per-partkey reductions of the fact that serve the aggregate-form
    * residual class (q18/q21's per-order multi-aggregate, q17's
    * per-part average, q4's EXISTS as a key-set filter at order
    * grain). minHits=1: a rollup write is one aggregate over the fact
    * — the same work ONE covered query pays per run — so even a
    * single-query key amortizes immediately. */
  private[graft] def ensureRollups(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.MaterializedAggs.Meta] = {
    Tables.clearRedirects()
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.adviseAggRollups(corpus,
      targetBucketBytes = 64L << 20, minHits = 1)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    specs.map { spec =>
      val t = s"adv_rollup_${spec.fact}_${spec.keys.mkString("_")}$tag"
      println(s"[advise] rollup ${spec.fact}.(${spec.keys.mkString(",")}) buckets=${spec.buckets} " +
        s"hits=${spec.hits} measures=${spec.measures.map(_.name).mkString(",")}")
      graft.plans.MaterializedAggs.all.find(_.catalogTable == t).getOrElse {
        val loc = java.nio.file.Paths.get(wh, t)
        val t0 = System.nanoTime()
        val attached =
          if (java.nio.file.Files.exists(loc.resolve("_SUCCESS")) &&
              !spark.catalog.tableExists(t)) {
            try {
              val m = graft.plans.MaterializedAggs.attachRollup(spark, spec, t, loc.toString)
              println(f"[advise] attached $t (${(System.nanoTime() - t0) / 1e9}%.1f s)")
              Some(m)
            } catch {
              case e: IllegalArgumentException =>
                println(s"[advise] $t sidecar mismatch (${e.getMessage.take(80)}…) — re-staging")
                None
            }
          } else None
        attached.getOrElse {
          if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE `$t`")
          GateFixtures.deleteRecursively(loc)
          val m = graft.plans.MaterializedAggs.stageRollup(spark, spec, t)
          println(f"[advise] staged $t (one-time write, ${(System.nanoTime() - t0) / 1e9}%.1f s)")
          m
        }
      }
    }
  }

  /** Advise over the 17-query corpus (flat reads), stage or re-attach
    * every advised layout, and install the redirects. 64 MB bucket
    * target ≈ 32 buckets on the x200 lineitem — one bucket per core in
    * the local harness, the same per-task sizing rule a cluster run
    * would apply with a bigger constant. minHits=2: a single-query key
    * does not pay for a whole-table rewrite. */
  private[graft] def ensureAdvised(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[(String, String)] = {
    Tables.clearRedirects()
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.advise(corpus,
      targetBucketBytes = 64L << 20, minHits = 2)
    // the COMPOSITION: the advised bucketed tables also carry stored
    // cents for every money column the corpus rounds (the decode
    // constant and the exchanges fall out of the same one-time write)
    val derived = graft.plans.LayoutAdvisor.adviseDerivedCents(corpus)
      .map(ds => ds.table -> ds.sourceCols).toMap
    specs.foreach(s => println(
      s"[advise] ${s.table} key=${s.key} buckets=${s.buckets} hits=${s.hits} " +
        s"cols=${s.columns.size} cents=${derived.getOrElse(s.table, Nil).mkString(",")}"))
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // dir-tagged names (GateFixtures discipline): the same JVM-spanning
    // warehouse serves several data dirs — an untagged name would
    // silently serve sf0.1's staging to an x200 run
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    specs.map { spec =>
      val t = s"adv_sweep_${spec.table}$tag"
      val cents = derived.getOrElse(spec.table, Nil).filter(spec.columns.contains)
      stageOrAttach(spark, spec, cents, t)
      Tables.redirect(d, spec.table, t)
      spec.table -> t
    }
  }

  /** Stage (or re-attach) `spec` as catalog table `t`, composing stored
    * cents. Bucket membership is PHYSICAL, and the advisor's input is
    * the OPTIMIZED plan — an engine rule change can shift the advised
    * key or count between sessions (observed round 10: the unique-key
    * constraints removed some eager pre-aggregates from the corpus
    * plans and flipped orders' advised key from o_orderkey/34 to
    * o_custkey/32). Attach ONLY when the sidecar proves the staged spec
    * matches this session's advice; otherwise re-stage (legacy
    * sidecar-less dirs re-stage too — nothing proves their key). */
  private def stageOrAttach(spark: org.apache.spark.sql.SparkSession,
      spec: graft.plans.LayoutAdvisor.LayoutSpec, cents: Seq[String],
      t: String): Unit = {
    if (spark.catalog.tableExists(t)) return
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // stats as product: measure (rowCount, NDV per advised column) of
    // the base table once — EagerAggregation's unique-key declines and
    // the advisor's equality selectivity then come from MEASUREMENT on
    // both the flat path and (via the alias) the staged catalog table
    val stats = graft.plans.TableStats.analyzePathIfMissing(
      spark, spec.path, spec.key +: spec.columns)
    graft.plans.TableStats.alias(wh, stats, t)
    println(s"[stats] ${spec.table}: rows=${stats.rowCount} " +
      stats.ndv.toSeq.sortBy(_._1).map { case (c, n) => s"$c=$n" }.mkString(" "))
    val loc = java.nio.file.Paths.get(wh, t)
    val sidecar = loc.resolve(graft.sources.TabularWriter.BucketSidecar)
    val sidecarMatches = java.nio.file.Files.exists(sidecar) && {
      val tokens = new String(java.nio.file.Files.readAllBytes(sidecar),
        "UTF-8").trim.split("\\s+")
      // corrupt/truncated sidecar = "does not match" → re-stage, never throw
      tokens.length > 1 && tokens.head.nonEmpty &&
        tokens.head.forall(_.isDigit) && tokens.head.toInt == spec.buckets &&
        tokens(1).equalsIgnoreCase(spec.key)
    }
    // freshness (round-12): attach only when the recorded base still
    // fingerprints identically — a base that grew since staging means
    // the layout is stale and must re-stage (sidecar-less legacy dirs
    // re-stage too via sidecarMatches)
    val baseFresh = graft.plans.Freshness.verifyBaseAt(spark, loc)
    if (!baseFresh) println(s"[advise] $t: base data drifted since staging — re-staging")
    if (java.nio.file.Files.exists(loc.resolve("_SUCCESS")) && sidecarMatches && baseFresh) {
      val t0 = System.nanoTime()
      graft.sources.TabularWriter.attach(
        spark, t, loc.toString, spec.key, spec.buckets)
      // table properties live in the catalog the attach just
      // recreated, not in the files — re-mark or the rule stays off
      if (cents.nonEmpty) {
        graft.plans.LayoutAdvisor.markDerived(spark, t, cents)
        // the decimal-idiom rewrite additionally needs the finiteness
        // proof; files staged before the audit existed self-heal with
        // one narrow scan of the base columns + a sidecar write
        val finite = graft.plans.LayoutAdvisor.readFiniteSidecar(loc.toString)
          .getOrElse {
            val f = graft.plans.LayoutAdvisor.auditFinite(
              spark.read.parquet(spec.path.split(',').toIndexedSeq: _*), cents)
            graft.plans.LayoutAdvisor.writeFiniteSidecar(spark, t, f)
            println(s"[advise] $t: finite audit self-healed (${f.mkString(",")})")
            f
          }
        if (finite.nonEmpty)
          graft.plans.LayoutAdvisor.markDerivedFinite(spark, t, finite)
      }
      println(f"[advise] attached $t (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    } else {
      GateFixtures.deleteRecursively(loc)
      val t0 = System.nanoTime()
      graft.plans.LayoutAdvisor.stageWithDerived(spark, spec, cents, t)
      println(f"[advise] staged $t (one-time write, ${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
  }

  /** One projection per ACCESS PATTERN per table: the bucketed hot-key
    * projections (adviseProjections, perTable=2, cents composed) PLUS
    * one derived-cents CLUSTERED projection per adviseDerivedCents
    * table — the heterogeneous candidate set
    * [[graft.plans.LayoutAdvisor.routeAll]] picks among per query
    * (round-10's router scored bucketed specs only, so the
    * decode-constant class q6/q14/q15 never reached its proven
    * shipdate-clustered cents answer). No redirects installed here:
    * routing is per-query by construction. */
  private[graft] def ensureProjections(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.LayoutAdvisor.Projection] = {
    Tables.clearRedirects()
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.adviseProjections(corpus,
      perTable = 2, targetBucketBytes = 64L << 20, minHits = 2)
    val derivedSpecs = graft.plans.LayoutAdvisor.adviseDerivedCents(corpus)
    val derived = derivedSpecs.map(ds => ds.table -> ds.sourceCols).toMap
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val bucketed = specs.map { spec =>
      val t = s"adv_proj_${spec.table}_${spec.key}$tag"
      println(s"[advise] projection ${spec.table}.${spec.key} buckets=${spec.buckets} " +
        s"hits=${spec.hits} cols=${spec.columns.size}")
      val cents = derived.getOrElse(spec.table, Nil).filter(spec.columns.contains)
      stageOrAttach(spark, spec, cents, t)
      graft.plans.LayoutAdvisor.Projection.bucketed(spec, t, cents)
    }
    val clustered = derivedSpecs.map { ds =>
      val t = s"adv_cents_${ds.table}$tag"
      println(s"[advise] cents projection ${ds.table} sort=${ds.sortCol.getOrElse("-")} " +
        s"cols=${ds.sourceCols.mkString(",")} hits=${ds.hits}")
      stageOrAttachDerived(spark, ds, t)
      graft.plans.LayoutAdvisor.Projection.derived(ds, t)
    }
    bucketed ++ clustered
  }

  /** Stage (or fresh-JVM re-attach) one derived-cents projection; the
    * `_graft_derived` sidecar provides the same drift detection the
    * bucketed path gets from `_graft_buckets`. */
  private def stageOrAttachDerived(spark: org.apache.spark.sql.SparkSession,
      spec: graft.plans.LayoutAdvisor.DerivedSpec, t: String): Unit = {
    if (spark.catalog.tableExists(t)) return
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh, t)
    val t0 = System.nanoTime()
    if (java.nio.file.Files.exists(loc.resolve("_SUCCESS"))) {
      try {
        graft.plans.LayoutAdvisor.attachDerived(spark, spec, t, loc.toString)
        println(f"[advise] attached $t (${(System.nanoTime() - t0) / 1e9}%.1f s)")
        return
      } catch {
        case e: IllegalArgumentException =>
          println(s"[advise] $t sidecar mismatch (${e.getMessage.take(80)}…) — re-staging")
      }
    }
    GateFixtures.deleteRecursively(loc)
    graft.plans.LayoutAdvisor.stageDerived(spark, spec, t)
    println(f"[advise] staged $t (one-time write, ${(System.nanoTime() - t0) / 1e9}%.1f s)")
  }
}
