package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.plans.{AggRewrite, ConstraintRewrite}

/** Constraint-based join elimination: a fact ⋈ dim join whose dim
  * columns are unused is dropped when (and only when) the registered
  * VERIFIED claims prove it row-preserving — and never changes rows.
  */
class ConstraintRewriteSpec extends GraftSpec {
  import spark.implicits._

  private lazy val liPath = s"$sfDir/lineitem.parquet"
  private lazy val ordPath = s"$sfDir/orders.parquet"
  private lazy val custPath = s"$sfDir/customer.parquet"

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      case _ => Nil
    }

  private def scansPath(df: DataFrame, path: String): Boolean = {
    val norm = new org.apache.hadoop.fs.Path(path).toUri.getPath
    scanPaths(df).contains(norm)
  }

  private def registerAll(): Unit = {
    ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
    ConstraintRewrite.registerUnique(spark, custPath, "c_custkey")
    ConstraintRewrite.registerForeignKey(spark, liPath, "l_orderkey",
      ordPath, "o_orderkey")
  }

  private def innerQ: DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"l_linenumber").as("sum_ln"))

  private def outerQ: DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        $"o_custkey" === $"c_custkey", "left_outer")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), min($"o_totalprice").as("min_p"))

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

  test("registration refuses claims the data disproves") {
    ConstraintRewrite.clear()
    // l_orderkey repeats across line numbers: not unique
    intercept[IllegalArgumentException] {
      ConstraintRewrite.registerUnique(spark, liPath, "l_orderkey")
    }
    // FK registration requires the dim uniqueness claim first
    intercept[IllegalArgumentException] {
      ConstraintRewrite.registerForeignKey(spark, liPath, "l_orderkey",
        ordPath, "o_orderkey")
    }
    // a dangling key is refused: dim = {1,2,3}, fact carries 999
    val tmp = java.nio.file.Files.createTempDirectory("graft_fk_spec").toString
    Seq(1L, 2L, 3L).toDF("k").write.mode("overwrite").parquet(s"$tmp/dim")
    Seq(1L, 2L, 999L).toDF("fk").write.mode("overwrite").parquet(s"$tmp/fact")
    ConstraintRewrite.registerUnique(spark, s"$tmp/dim", "k")
    intercept[IllegalArgumentException] {
      ConstraintRewrite.registerForeignKey(spark, s"$tmp/fact", "fk", s"$tmp/dim", "k")
    }
    // and a NULL fact key is refused even when every non-NULL value matches
    Seq(Some(1L), Some(2L), None).toDF("fk")
      .write.mode("overwrite").parquet(s"$tmp/factnull")
    intercept[IllegalArgumentException] {
      ConstraintRewrite.registerForeignKey(spark, s"$tmp/factnull", "fk", s"$tmp/dim", "k")
    }
    ConstraintRewrite.clear()
  }

  test("verified FK: the inner join disappears, rows exact") {
    ConstraintRewrite.clear()
    val expected = rows(innerQ) // exact plan, no rule installed
    registerAll()
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val before = ConstraintRewrite.fired.get()
      val df = innerQ
      assert(!scansPath(df, ordPath), "the dim scan must be gone")
      assert(scansPath(df, liPath), "the fact scan stays")
      assert(ConstraintRewrite.fired.get() > before)
      assert(rows(df) === expected, "elimination must not change any row")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("verified FK: the LEFT SEMI join (EXISTS shape) is the identity") {
    ConstraintRewrite.clear()
    def semiQ = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_linestatus").agg(count(lit(1)).as("n"))
    val expected = rows(semiQ)
    registerAll()
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val df = semiQ
      assert(!scansPath(df, ordPath), "the vacuous EXISTS probe must be gone")
      assert(rows(df) === expected)
      // without the FK the existence test is load-bearing: decline
      ConstraintRewrite.clear()
      ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
      assert(scansPath(semiQ, ordPath),
        "semi elimination needs the verified FK, not just uniqueness")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("verified FK: the LEFT ANTI join (orphan check) is provably empty") {
    ConstraintRewrite.clear()
    def antiQ = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    assert(antiQ.head().getLong(0) === 0L, "fixture invariant: no orphans")
    registerAll()
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val df = antiQ
      assert(!scansPath(df, ordPath) && !scansPath(df, liPath),
        "the empty anti join must scan NEITHER table")
      assert(df.head().getLong(0) === 0L, "the count over the empty relation is 0")
      // without the FK the orphan check is load-bearing: decline
      ConstraintRewrite.clear()
      ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
      assert(scansPath(antiQ, ordPath),
        "anti elimination needs the verified FK, not just uniqueness")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("unique key alone: the LEFT OUTER join disappears, rows exact") {
    ConstraintRewrite.clear()
    val expected = rows(outerQ)
    // only the uniqueness claim — no FK registered for o_custkey
    ConstraintRewrite.registerUnique(spark, custPath, "c_custkey")
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val df = outerQ
      assert(!scansPath(df, custPath), "the outer-joined dim scan must be gone")
      assert(rows(df) === expected)
      // the SAME shape as an INNER join must keep the join: without the
      // FK, an unmatched or NULL o_custkey would make inner ≠ outer
      val inner = Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      assert(scansPath(inner, custPath),
        "inner elimination needs the verified FK, not just uniqueness")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("declines: dim column used, dim-side filter, fact-side null hazard") {
    ConstraintRewrite.clear()
    registerAll()
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val before = ConstraintRewrite.fallbacks.get()
      // the group key is a dim column: the join must survive
      val usesDim = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      assert(scansPath(usesDim, ordPath))
      // a dim-side filter changes which fact rows match: decline
      val dimFilter = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir).filter($"o_orderpriority" === "1-URGENT"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      assert(scansPath(dimFilter, ordPath))
      assert(ConstraintRewrite.fallbacks.get() > before,
        "declines on a registered dim are counter-observable")
      // any null-extending join below the fact key voids the FK proof
      // (the guard is deliberately conservative: it does not track
      // which side the key attribute rode through, because the unsafe
      // case — the key null-extended, inner join dropping rows the
      // elimination would keep — is indistinguishable locally)
      val hazard = Tables.orders(spark, sfDir).select($"o_orderkey".as("k2"))
        .join(Tables.lineitem(spark, sfDir), $"k2" === $"l_orderkey", "right_outer")
        .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      assert(scansPath(hazard, ordPath),
        "an outer join under the fact key must keep the dim join")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("SQL subquery shapes: EXISTS/IN fold to TRUE under the FK, decline without it") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    ConstraintRewrite.clear()
    registerAll()
    val fact = Tables.lineitem(spark, sfDir).queryExecution.analyzed
    val dim = Tables.orders(spark, sfDir).select($"o_orderkey").queryExecution.analyzed
    val factKey = fact.output.find(_.name == "l_orderkey").get
    val dimKey = dim.output.find(_.name == "o_orderkey").get
    def noSubquery(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      !p.exists(_.expressions.exists(_.exists(e =>
        e.isInstanceOf[Exists] || e.isInstanceOf[InSubquery])))
    // the pulled-up correlated EXISTS (joinCond carries the correlation)
    val ex = Exists(dim, Seq(factKey), NamedExpression.newExprId,
      Seq(EqualTo(dimKey, factKey)), None)
    val folded = ConstraintRewrite.applyWith(LFilter(ex, fact), Some(spark))
    assert(noSubquery(folded), "EXISTS must fold to TRUE under the verified FK")
    // NOT EXISTS folds through the same replacement
    val foldedNot = ConstraintRewrite.applyWith(LFilter(Not(ex), fact), Some(spark))
    assert(noSubquery(foldedNot))
    // uncorrelated single-column IN
    val in = InSubquery(Seq(factKey),
      ListQuery(dim, Seq.empty, NamedExpression.newExprId, 1, Seq.empty, None))
    val foldedIn = ConstraintRewrite.applyWith(LFilter(in, fact), Some(spark))
    assert(noSubquery(foldedIn), "IN must fold to TRUE under the verified FK")
    // declines: a key without an FK claim (l_partkey) keeps the subquery
    val badKey = fact.output.find(_.name == "l_partkey").get
    val exBad = Exists(dim, Seq(badKey), NamedExpression.newExprId,
      Seq(EqualTo(dimKey, badKey)), None)
    assert(!noSubquery(ConstraintRewrite.applyWith(LFilter(exBad, fact), Some(spark))),
      "a key without the verified FK must keep the subquery")
    // declines: a real dim-side filter narrows the existence set
    val dimFiltered = Tables.orders(spark, sfDir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
      .queryExecution.analyzed
    val dk2 = dimFiltered.output.find(_.name == "o_orderkey").get
    val exFiltered = Exists(dimFiltered, Seq(factKey), NamedExpression.newExprId,
      Seq(EqualTo(dk2, factKey)), None)
    assert(!noSubquery(ConstraintRewrite.applyWith(LFilter(exFiltered, fact), Some(spark))),
      "a filtered dim subquery must keep the existence test")
    ConstraintRewrite.clear()
  }

  test("SQL NOT IN: vacuously FALSE under the FK; NullAwareAntiJoin preserved without it") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    ConstraintRewrite.clear()
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("cr_spec_lineitem")
    Tables.orders(spark, sfDir).createOrReplaceTempView("cr_spec_orders")
    def notInQ = spark.sql(
      """SELECT count(*) AS n_orphans FROM cr_spec_lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM cr_spec_orders)""".stripMargin)
    def hasAntiJoin(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists {
        case LJoin(_, _, LeftAnti, _, _) => true
        case _ => false
      }
    // without the FK, three-valued NOT IN is load-bearing: Spark plans
    // the null-aware anti join (the most expensive guard-rail shape)
    assert(hasAntiJoin(notInQ) && scansPath(notInQ, ordPath),
      "no claim: the null-aware anti join must be preserved")
    assert(notInQ.head().getLong(0) === 0L, "fixture invariant: no orphans")
    registerAll()
    try {
      // the fold runs in the operator-optimization batch, BEFORE
      // RewritePredicateSubquery lowers Not(InSubquery) to the
      // null-aware anti join (the extensions-injected path — its
      // end-to-end zero-scan pin is sql_planner_not_in's hashed
      // rewrite_fired); apply it to the analyzed plan the way that
      // batch sees it
      import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
      import org.apache.spark.sql.catalyst.expressions.InSubquery
      import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, View}
      // strip SubqueryAlias + View the way the optimizer's
      // Finish-Analysis batch (EliminateSubqueryAliases/EliminateView)
      // does before the operator-optimization batch runs
      def strip(p: LogicalPlan): LogicalPlan =
        EliminateSubqueryAliases(p).transformUp { case v: View => v.child }
      def preOptimized(df: DataFrame) =
        strip(df.queryExecution.analyzed).transformAllExpressions {
          case in @ InSubquery(_, lq) =>
            in.copy(query = lq.copy(plan = strip(lq.plan)))
        }
      val folded = ConstraintRewrite.applyWith(preOptimized(notInQ), Some(spark))
      assert(!folded.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[InSubquery]))),
        "under the verified FK the InSubquery folds in place — " +
          "Not(TRUE) then collapses to an empty relation downstream")
      // uniqueness alone is NOT enough — only the FK makes the fold safe
      // (a NULL or dangling fact key flips naive NOT IN reasoning)
      ConstraintRewrite.clear()
      ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
      val declined = ConstraintRewrite.applyWith(preOptimized(notInQ), Some(spark))
      assert(declined.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[InSubquery]))),
        "NOT IN needs the verified FK, not just uniqueness")
      assert(hasAntiJoin(notInQ) && scansPath(notInQ, ordPath),
        "…so Spark's NullAwareAntiJoin plan survives")
    } finally {
      ConstraintRewrite.clear()
    }
  }

  test("bare Aggregate(Join) eliminates without an intervening Project") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Join => LJoin, JoinHint, LogicalPlan}
    ConstraintRewrite.clear()
    registerAll()
    val fact = Tables.lineitem(spark, sfDir).queryExecution.analyzed
    val dim = Tables.orders(spark, sfDir).queryExecution.analyzed
    val fk = fact.output.find(_.name == "l_orderkey").get
    val dk = dim.output.find(_.name == "o_orderkey").get
    val flag = fact.output.find(_.name == "l_returnflag").get
    val prio = dim.output.find(_.name == "o_orderpriority").get
    def leafPaths(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      case _ => Nil
    }.toSeq
    val ordNorm = new org.apache.hadoop.fs.Path(ordPath).toUri.getPath
    def countAgg(group: Seq[Expression], extra: Seq[NamedExpression], child: LogicalPlan) =
      LAggregate(group,
        extra :+ Alias(Count(Literal(1)).toAggregateExpression(), "n")(), child)
    val join = LJoin(fact, dim, Inner, Some(EqualTo(fk, dk)), JoinHint.NONE)
    // groupBy(fact col) directly over the join — no Project in between
    val out = ConstraintRewrite.applyWith(
      countAgg(Seq(flag), Seq(flag), join), Some(spark))
    assert(!leafPaths(out).contains(ordNorm),
      "the bare Aggregate(Join) shape must eliminate the dim scan")
    assert(out.isInstanceOf[LAggregate], "the Aggregate itself survives")
    // negative: a dim grouping column keeps the join
    val keep = ConstraintRewrite.applyWith(
      countAgg(Seq(prio), Seq(prio), join), Some(spark))
    assert(leafPaths(keep).contains(ordNorm),
      "an Aggregate referencing a dim column must decline")
    ConstraintRewrite.clear()
  }

  test("PK-distinct elimination: identity under a unique NULL-free key; NULL-able/unproven keys decline") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate}
    ConstraintRewrite.clear()
    def nAggs(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case a: LAggregate => a
    }.size
    def dedupQ = Tables.orders(spark, sfDir).dropDuplicates("o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), max($"o_totalprice").as("max_p"))
    assert(nAggs(dedupQ) === 2, "without the claim, the dedup Aggregate stays")
    val expected = rows(dedupQ)
    ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val df = dedupQ
      assert(nAggs(df) === 1, "the dedup shuffle must be eliminated (one Aggregate left)")
      assert(rows(df) === expected, "elimination must not change any row")
      // decline: a non-unique key keeps its dedup Aggregate
      val nonUnique = Tables.lineitem(spark, sfDir).dropDuplicates("l_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      assert(nAggs(nonUnique) === 2, "no claim on l_orderkey: dedup must stay")
      // decline: a unique-but-NULLABLE key — NULL keys may repeat, and
      // DISTINCT collapses them, so the identity claim does not hold
      val tmp = java.nio.file.Files.createTempDirectory("graft_pk_nulls").toString
      Seq(Some(1L), Some(2L), None, None).toDF("k")
        .withColumn("v", lit("x")).write.mode("overwrite").parquet(tmp)
      ConstraintRewrite.registerUnique(spark, tmp, "k") // passes: non-NULLs unique
      val nullable = spark.read.parquet(tmp).dropDuplicates("k")
        .agg(count(lit(1)).as("n"))
      assert(nAggs(nullable) === 2, "a NULL-able unique key must decline")
      assert(nullable.head().getLong(0) === 3L,
        "…because DISTINCT collapses the repeated NULL keys (4 rows → 3)")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("COUNT(DISTINCT unique key) folds to COUNT; non-unique keys and join-duplicated keys decline") {
    ConstraintRewrite.clear()
    // single-distinct shape only: Spark's own RewriteDistinctAggregates
    // rewrites MULTI-distinct aggregates into the Expand form (no
    // isDistinct left) regardless of this rule, so the observable pin
    // lives on the single-distinct plan
    def hasDistinct(df: DataFrame) =
      !graft.plans.PlannerPin.noDistinctAggregate(df.queryExecution.optimizedPlan)
    def cdQ(keyCol: String) = Tables.orders(spark, sfDir).groupBy($"o_orderpriority")
      .agg(count_distinct(col(keyCol)).as("nd"), count(lit(1)).as("n"))
    assert(hasDistinct(cdQ("o_orderkey")), "without the claim the DISTINCT stays")
    val expected = cdQ("o_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    try {
      val folded = cdQ("o_orderkey")
      assert(!hasDistinct(folded), "COUNT(DISTINCT unique key) folds to plain COUNT")
      val got = folded.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(got === expected, "the fold must not change any value")
      // decline: a column without the claim keeps its DISTINCT
      assert(hasDistinct(cdQ("o_custkey")), "o_custkey carries no claim")
      // decline: below a join the key is duplicated per matching fact
      // row — multiplicity is no longer 1 and the fold would be wrong
      val joined = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count_distinct($"o_orderkey").as("nd"), count(lit(1)).as("n"))
      assert(hasDistinct(joined), "a join below the key voids the multiplicity proof")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("claims are session-owned: a claim verified elsewhere is no proof here") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    ConstraintRewrite.clear()
    val other = spark.newSession()
    // split ownership: the uniqueness claim verified by OTHER, the FK
    // claim verified by SPARK — neither session holds the full proof
    ConstraintRewrite.registerUnique(other, ordPath, "o_orderkey")
    ConstraintRewrite.registerForeignKey(spark, liPath, "l_orderkey",
      ordPath, "o_orderkey")
    val fact = Tables.lineitem(spark, sfDir).queryExecution.analyzed
    val dim = Tables.orders(spark, sfDir).select($"o_orderkey").queryExecution.analyzed
    val factKey = fact.output.find(_.name == "l_orderkey").get
    val in = InSubquery(Seq(factKey),
      ListQuery(dim, Seq.empty, NamedExpression.newExprId, 1, Seq.empty, None))
    def stillHasSubquery(cur: org.apache.spark.sql.SparkSession): Boolean =
      ConstraintRewrite.applyWith(LFilter(in, fact), Some(cur))
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[InSubquery])))
    assert(stillHasSubquery(spark),
      "the dim uniqueness claim belongs to another session: decline")
    assert(stillHasSubquery(other),
      "the FK claim belongs to another session: decline (fkHolds ownership)")
    // re-registering BOTH under one session closes the proof again
    ConstraintRewrite.registerUnique(spark, ordPath, "o_orderkey")
    ConstraintRewrite.registerForeignKey(spark, liPath, "l_orderkey",
      ordPath, "o_orderkey")
    assert(!stillHasSubquery(spark), "single-session ownership folds again")
    ConstraintRewrite.clear()
  }

  test("staleness: a changed dim listing drops every claim on it") {
    ConstraintRewrite.clear()
    val tmp = java.nio.file.Files.createTempDirectory("graft_fk_stale").toString
    Tables.customer(spark, sfDir).write.mode("overwrite").parquet(tmp)
    ConstraintRewrite.registerUnique(spark, tmp, "c_custkey")
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite)
    spark.conf.set("spark.graft.planner.staleness.intervalMs", "0")
    try {
      def q = Tables.orders(spark, sfDir)
        .join(spark.read.parquet(tmp), $"o_custkey" === $"c_custkey", "left_outer")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      assert(!scansPath(q, tmp), "fresh claim: the join is eliminated")
      // mutate the dim dir: add a data file the snapshot never saw
      Seq(1L).toDF("c_custkey").write.mode("append").parquet(tmp)
      val before = ConstraintRewrite.droppedStale.get()
      ConstraintRewrite.resetPlanCaches()
      assert(scansPath(q, tmp), "a stale claim must keep the exact join")
      assert(ConstraintRewrite.droppedStale.get() > before)
      // the registration is gone, not just declined for an interval
      ConstraintRewrite.resetPlanCaches()
      assert(scansPath(q, tmp))
    } finally {
      spark.conf.unset("spark.graft.planner.staleness.intervalMs")
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
    }
  }

  test("the chain: elimination exposes the groupBy to the MV rewrite") {
    ConstraintRewrite.clear()
    AggRewrite.clear()
    def q = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), max($"l_quantity").as("max_qty"))
    val expected = q.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    registerAll()
    val mv = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), max($"l_quantity").as("max_qty"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_fk_chain_mv").toString
    mv.write.mode("overwrite").parquet(tmp)
    AggRewrite.register(liPath, AggRewrite.MvSpec(spark.read.parquet(tmp),
      groupCols = Seq("l_returnflag", "l_linestatus"),
      measures = Map("n" -> (("count", "")), "max_qty" -> (("max", "l_quantity"))),
      mvPath = Some(tmp)))
    spark.experimental.extraOptimizations = Seq(ConstraintRewrite, AggRewrite)
    try {
      val df = q
      assert(!scansPath(df, ordPath), "the join is eliminated")
      assert(!scansPath(df, liPath), "…and the exposed groupBy is answered from the MV")
      val got = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got === expected, "two rewrites composed must still be value-exact")
    } finally {
      spark.experimental.extraOptimizations = Nil
      ConstraintRewrite.clear()
      AggRewrite.clear()
    }
  }
}
