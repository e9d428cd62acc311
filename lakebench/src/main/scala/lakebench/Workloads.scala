package lakebench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, TextFunctions, VectorFunctions}
import graft.operators.Similarity
import graft.pipelines.Orchestrator
import graft.plans.MvRewrite
import graft.streaming.Streams
import graft.table.{AnnIndex, DedupIndex, IncrementalView, LakeTable}

/** A workload: a set-up into a fresh lake root, a sequence of
  * generated batches the closed loop applies in order, and ground-truth
  * checks of the final state. */
abstract class Workload(val spark: SparkSession, val input: String,
    val tr: Tracer, val m: Meter) {
  val man: JsonNode = new ObjectMapper().readTree(new File(input, "manifest.json"))
  val batches: Seq[JsonNode] = man.get("batches").elements().asScala.toSeq
  val baseBytes: Long = man.get("base_bytes").asLong()
  var root: String = _
  /** Input bytes of the batches applied so far. */
  var appliedBytes = 0L
  /** Per-layer figures only the workload can compute. */
  val extras = mutable.LinkedHashMap.empty[String, Double]

  def setup(root: String): Unit
  def batch(i: Int): Unit
  /** Untimed batches before the loop: the JVM is still compiling the
    * batch path (and the classes Spark generates for it) during the
    * first ones, which run slower than the ones after them. */
  def warmupBatches: Int
  /** Batches the loop times, the same number in every run. */
  def timedBatches: Int
  /** Mismatches against ground truth after `n` batches; `perturb`
    * corrupts one expected value so the checks can be seen to fail. */
  def check(n: Int, perturb: Boolean): Seq[String]
  /** Kernel throughput on the workload's own data (traced runs only). */
  def kernels(): Unit = ()

  protected def ids(node: JsonNode, field: String): Seq[Long] =
    node.get(field).elements().asScala.map(_.asLong()).toSeq

  protected def parquet(rel: String): DataFrame =
    spark.read.parquet(s"$input/$rel")

  /** Rows as strings (columns in the given order, NULL as a marker), so
    * two frames compare exactly as multisets. */
  protected def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(concat_ws("|", cols.map(c =>
        coalesce(col(c).cast("string"), lit("<null>"))): _*))
      .collect().map(_.getString(0)).toSeq.sorted

  protected def sameRows(what: String, got: DataFrame, want: DataFrame,
      perturb: Boolean = false): Seq[String] = {
    val cols = want.columns.toSeq
    val g = canon(got, cols)
    val w0 = canon(want, cols)
    val w = if (perturb && w0.nonEmpty) w0.tail else w0
    if (g == w) Nil
    else Seq(s"$what: ${g.size} rows, expected ${w.size}; first difference " +
      s"${g.diff(w).headOption.getOrElse("-")} / ${w.diff(g).headOption.getOrElse("-")}")
  }
}

/** The reference's own traffic: raw per-drop files landing through
  * `Orchestrator.runAll`, then SQL previews over the landed tables. */
final class EtlBatches(spark: SparkSession, input: String, tr: Tracer,
    m: Meter) extends Workload(spark, input, tr, m) {
  /** Drop writes keep falling for about ten drops after set-up; the
    * last drops of that trend are timed, which keeps a run short. */
  def warmupBatches: Int = 7
  def timedBatches: Int = 6
  private val reports = mutable.ArrayBuffer.empty[Seq[Orchestrator.JobReport]]
  private val keys = Map("products" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "order_items" -> Seq("l_orderkey", "l_linenumber"))
  private def table(e: String) = LakeTable(spark, root, e, keys(e))

  def setup(root: String): Unit = {
    this.root = root
    reports += tr.span("pipelines.runAll") {
      Orchestrator.runAll(spark, s"$input/base", root)
    }
  }

  def batch(i: Int): Unit = {
    val b = batches(i)
    m.write(b.get("rows").asLong(), b.get("bytes").asLong()) {
      reports += tr.span("pipelines.runAll") {
        Orchestrator.runAll(spark, s"$input/${b.get("dir").asText()}", root)
      }
    }
    appliedBytes += b.get("bytes").asLong()
    // the preview mix runs twice, so each run holds enough of its slowest
    // query for the read tail to fall inside that query's timings; once
    // in a warm-up drop, which is enough to compile it
    for (_ <- 1 to (if (i < warmupBatches) 1 else 2)) {
      for (e <- Seq("products", "orders", "order_items"))
        m.read(s"table.read.count_$e")(table(e).read.count())
      m.read("table.read.top_orders") {
        table("orders").read
          .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20).collect()
      }
      m.read("table.read.revenue_by_status") {
        table("orders").read
          .join(table("order_items").read, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
          .collect()
      }
    }
  }

  def check(n: Int, perturb: Boolean): Seq[String] = {
    val dirs = "base" +: batches.take(n).map(_.get("dir").asText())
    val problems = mutable.ArrayBuffer.empty[String]
    // rejected and merged counts per run and entity (batch reports follow
    // the set-up's base landing)
    for ((rep, i) <- reports.zipWithIndex if i > 0 && i <= n) {
      val b = batches(i - 1)
      for (r <- rep) {
        val wantRej = b.get("rejected").get(r.entity).asLong() +
          (if (perturb && i == 1) 1 else 0)
        val wantMerged = b.get("merged").get(r.entity).asLong()
        if (r.nRejected != wantRej || r.nMerged != wantMerged)
          problems += s"drop ${i - 1} ${r.entity}: rejected ${r.nRejected} " +
            s"merged ${r.nMerged}, expected $wantRej / $wantMerged"
      }
      if (rep.size != 3) problems += s"drop ${i - 1}: ${rep.size} entity reports"
    }
    // final tables = the expected landed rows of every run, merged in order
    for ((e, k) <- keys) {
      val cols = table(e).read.columns.toSeq
      val order = dirs.zipWithIndex.toMap
      val expected = spark.read.parquet(dirs.map(d => s"$input/expect/$d/$e.parquet"): _*)
        .select(input_file_name(),
          concat_ws("|", k.map(c => col(c).cast("string")): _*),
          concat_ws("|", cols.map(c => coalesce(col(c).cast("string"),
            lit("<null>"))): _*))
        .collect().map(r => (order(r.getString(0).split("/").reverse(1)),
          r.getString(1), r.getString(2)))
        .sortBy(_._1)
        .foldLeft(Map.empty[String, String]) { case (acc, (_, key, row)) =>
          acc.updated(key, row) }
      val want = expected.values.toSeq.sorted
      val got = canon(table(e).read, cols)
      if (got != want)
        problems += s"table $e: ${got.size} rows, expected ${want.size}; " +
          s"first difference ${got.diff(want).headOption.getOrElse("-")} / " +
          s"${want.diff(got).headOption.getOrElse("-")}"
    }
    val loop = reports.drop(1 + warmupBatches).flatten // the timed batches
    extras("pipelines.landed_ratio") =
      loop.map(_.nMerged).sum.toDouble / math.max(1L, loop.map(_.nInput).sum)
    extras("table.dml_calls") = loop.size.toDouble
    problems.toSeq
  }
}

/** Small partition-pruned DMLs on a change-feed fact table, every
  * maintained view brought fresh after each one, then reads the
  * registered views should serve. The sum view follows the change feed
  * through a streaming drain; the min/max, full-stats and join-sum views
  * use the batch maintainers. */
final class IvmChurn(spark: SparkSession, input: String, tr: Tracer,
    m: Meter) extends Workload(spark, input, tr, m) {
  private var fact, dim, sumV, mmV, fsAux, fsV, joinV: LakeTable = _
  private var since = 0
  private val value = "l_extendedprice"
  private val flagStatus = Seq("l_returnflag", "l_linestatus")
  private def vDec = col(value).cast("decimal(20,4)")
  private def q18 = col("l_quantity").cast("decimal(18,4)")
  var planS = 0.0
  var eligible, hits = 0
  /** Whole cycles of the generator's schedule (an upsert that leaves
    * every extremum in place, a delete of a group maximum, an update
    * lowering one): one to warm up every kind's path, two timed, so the
    * write median and maximum rest on two samples of each kind. */
  def warmupBatches: Int = 3
  def timedBatches: Int = 6

  def setup(root: String): Unit = {
    this.root = root
    MvRewrite.clear()
    fact = LakeTable(spark, root, "fact", Seq("l_orderkey", "l_linenumber"),
      partitionCols = Seq("l_bucket"), changeFeed = true)
    dim = LakeTable(spark, root, "dim", Seq("l_orderkey"))
    sumV = LakeTable(spark, root, "v_sum", flagStatus)
    mmV = LakeTable(spark, root, "v_minmax", Seq("l_suppkey"))
    fsAux = LakeTable(spark, root, "v_stats_aux", Seq("l_returnflag", "__v"))
    fsV = LakeTable(spark, root, "v_stats", Seq("l_returnflag"))
    joinV = LakeTable(spark, root, "v_join", Seq("o_orderpriority"))
    tr.span("table.create.fact")(fact.create(parquet(man.get("base").asText())))
    tr.span("table.create.dim")(dim.create(parquet(man.get("dim").asText())))
    val sync = MvRewrite.syncMeta(fact.version)
    tr.span("ivm.create.sum")(sumV.create(
      IncrementalView.sumView(fact.read, flagStatus, value), sync))
    tr.span("ivm.create.minmax")(mmV.create(
      IncrementalView.minMaxView(fact.read, Seq("l_suppkey"), value), sync))
    tr.span("ivm.create.fullstats") {
      IncrementalView.createFullStatsPair(fsAux, fsV, fact.read,
        Seq("l_returnflag"), "l_quantity")
      fsV.annotate(sync)
    }
    tr.span("ivm.create.joinsum")(joinV.create(IncrementalView.joinSumView(
      fact.read, dim.read, Seq("l_orderkey"), Seq("o_orderpriority"), value),
      MvRewrite.joinSyncMeta(fact.version, dim.version)))
    register()
    since = fact.version
  }

  private def register(): Unit = {
    MvRewrite.register(fact, sumV, flagStatus, value, MvRewrite.SumKind)
    MvRewrite.register(fact, mmV, Seq("l_suppkey"), value, MvRewrite.MinMaxKind)
    MvRewrite.register(fact, fsV, Seq("l_returnflag"), "l_quantity",
      MvRewrite.FullStatsKind)
    MvRewrite.registerJoin(fact, dim, joinV, Seq("l_orderkey"),
      Seq("o_orderpriority"), value, MvRewrite.SumKind)
  }

  private def picked(step: JsonNode): Column =
    col("l_bucket") === step.get("bucket").asInt() &&
      (col("l_orderkey") * 16 + col("l_linenumber")).isin(ids(step, "ids"): _*)

  def batch(i: Int): Unit = {
    val step = batches(i)
    val kind = step.get("kind").asText()
    m.write(step.get("rows").asLong(), step.get("bytes").asLong()) {
      tr.span(s"table.dml.$kind") {
        kind match {
          case "upsert" => fact.upsert(parquet(step.get("file").asText()))
          case "delete" => fact.delete(picked(step))
          case "update" => fact.update(picked(step), Map(value -> col(value) * 0.9))
        }
      }
      val v = fact.version
      val sync = MvRewrite.syncMeta(v)
      tr.span("streaming.maintainSumViewFromChangeFeed") {
        // a fresh drain per step replays whatever feed versions remain,
        // so the feed is pruned to the unconsumed ones below and each
        // drain gets its own exactly-once marker
        Streams.maintainSumViewFromChangeFeed(fact.readChangeFeedStream,
          sumV, flagStatus, value, appId = s"s$i")
        sumV.annotate(sync)
      }
      tr.span("ivm.maintainMinMaxView")(IncrementalView.maintainMinMaxView(
        fact, mmV, Seq("l_suppkey"), value, since, sync))
      tr.span("ivm.maintainFullStatsView")(IncrementalView.maintainFullStatsView(
        fact, fsAux, fsV, Seq("l_returnflag"), "l_quantity", since, meta = sync))
      tr.span("ivm.maintainJoinSumView")(IncrementalView.maintainJoinSumView(
        fact, dim, joinV, Seq("l_orderkey"), Seq("o_orderpriority"), value,
        since, dim.version, MvRewrite.joinSyncMeta(v, dim.version)))
      since = v
      tr.span("table.pruneChangeFeed")(fact.pruneChangeFeed(v + 1))
    }
    appliedBytes += step.get("bytes").asLong()
    for ((name, q) <- eligibleReads) m.read(s"mvrewrite.read.$name") {
      val t0 = System.nanoTime()
      val df = q()
      val plan = df.queryExecution.optimizedPlan
      planS += (System.nanoTime() - t0) / 1e9
      eligible += 1
      if (!scans(plan, fact)) hits += 1
      df.collect()
    }
    m.read("table.read.ineligible")(ineligible().collect())
  }

  private def scans(plan: LogicalPlan, t: LakeTable): Boolean =
    plan.collect { case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }}.flatten.exists(_.contains(t.tablePath))

  private def eligibleReads: Seq[(String, () => DataFrame)] = Seq(
    "sum_by_flag_status" -> (() => fact.read.groupBy(flagStatus.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(vDec).as("s"))),
    "rollup_by_flag" -> (() => fact.read.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(vDec).as("s"))),
    "minmax_by_supp" -> (() => fact.read.groupBy("l_suppkey")
      .agg(min(vDec).as("lo"), max(vDec).as("hi"))),
    "stats_by_flag" -> (() => fact.read.groupBy("l_returnflag")
      .agg(avg(q18).as("avg_q"), countDistinct(q18).as("nd"))),
    "join_by_priority" -> (() => fact.read.join(dim.read, Seq("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum(vDec).as("s"))))

  private def ineligible(): DataFrame =
    fact.read.groupBy("l_partkey").agg(sum(col("l_tax")).as("tax"))

  def check(n: Int, perturb: Boolean): Seq[String] = {
    val base = fact.read
    val views = Seq(
      ("v_sum", sumV.read, IncrementalView.sumView(base, flagStatus, value)),
      ("v_minmax", mmV.read, IncrementalView.minMaxView(base, Seq("l_suppkey"), value)),
      ("v_stats", fsV.read, IncrementalView.fullStatsView(base, Seq("l_returnflag"), "l_quantity")),
      ("v_join", joinV.read, IncrementalView.joinSumView(base, dim.read,
        Seq("l_orderkey"), Seq("o_orderpriority"), value)))
    val viewProblems = views.zipWithIndex.flatMap { case ((name, got, want), i) =>
      sameRows(s"view $name", got, want, perturb && i == 0) }
    // every served read equals the same query with the rule off
    val servedRows = eligibleReads.map { case (name, q) => (name, q, q()) }
      .filter { case (_, _, df) => !scans(df.queryExecution.optimizedPlan, fact) }
      .map { case (name, q, df) => (name, q, df.collect().map(_.toString).sorted.toSeq) }
    MvRewrite.clear()
    val readProblems = try servedRows.flatMap { case (name, q, rows) =>
      val direct = q().collect().map(_.toString).sorted.toSeq
      if (direct == rows) Nil else Seq(s"read $name: served result differs from the base")
    } finally register()
    if (servedRows.isEmpty) viewProblems :+ "no read was served by a view"
    else viewProblems ++ readProblems
  }
}

/** Document waves into a change-feed docs table, with the near-duplicate
  * index and the ANN index maintained after each, then top-k searches and
  * duplicate-pair lookups. */
final class DedupAnnIngest(spark: SparkSession, input: String, tr: Tracer,
    m: Meter) extends Workload(spark, input, tr, m) {
  private var docs: LakeTable = _
  private var dd: DedupIndex = _
  private var ann: AnnIndex = _
  private var since = 0
  private var cells = 0
  private val k = 10
  private val nProbe = 4
  def warmupBatches: Int = 1
  def timedBatches: Int = 3

  def setup(root: String): Unit = {
    this.root = root
    docs = LakeTable(spark, root, "docs", Seq("doc_id"), changeFeed = true)
    tr.span("table.create.docs")(docs.create(parquet(man.get("base").asText())))
    dd = DedupIndex(spark, root, "dd")
    tr.span("dedup_index.build")(dd.build(docs.read, "doc_id", "text"))
    cells = AnnIndex.sizedCells(docs.read.count())
    ann = AnnIndex(spark, root, "ann", nCells = cells)
    tr.span("ann_index.build")(ann.build(docs.read, "doc_id", "embedding"))
    since = docs.version
  }

  private def queries(ids: Seq[Long]): DataFrame =
    docs.read.filter(col("doc_id").isin(ids: _*))

  def batch(i: Int): Unit = {
    val w = batches(i)
    m.write(w.get("rows").asLong(), w.get("bytes").asLong()) {
      tr.span("table.dml.upsert")(docs.upsert(parquet(w.get("file").asText())))
      tr.span("table.dml.delete")(docs.delete(col("doc_id").isin(ids(w, "deleted"): _*)))
      val v = docs.version
      tr.span("dedup_index.maintain")(dd.maintain(docs, "doc_id", "text", since))
      tr.span("ann_index.maintain")(ann.maintain(docs, "doc_id", "embedding", since))
      since = v
      tr.span("table.pruneChangeFeed")(docs.pruneChangeFeed(v + 1))
    }
    appliedBytes += w.get("bytes").asLong()
    m.read("ann_index.search") {
      ann.search(queries(ids(w, "queries")), "doc_id", "embedding", k, nProbe).collect()
    }
    // two pair lookups per search, so the read median falls among the
    // lookups and the tail among the searches
    val lookups = ids(w, "lookups")
    for (look <- lookups.grouped((lookups.size + 1) / 2)) m.read("dedup_index.lookup") {
      dd.currentPairs.filter(col("a_id").isin(look: _*) || col("b_id").isin(look: _*))
        .collect()
    }
  }

  /** Exhaustive top-k: every doc scored against every query, ranked by
    * the window reference of the index's own per-query top-k. */
  private def bruteForce(q: DataFrame): DataFrame = {
    val qs = q.select(col("doc_id").as("query_id"),
      VectorFunctions.normalize(col("embedding")).as("q_v"))
    val all = docs.read.select(col("doc_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_v"))
    Similarity.topKPerGroupWindow(qs.crossJoin(all)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.dot(col("q_v"), col("c_v")), 6).as("cos")), k)
  }

  def check(n: Int, perturb: Boolean): Seq[String] = {
    val fresh = DedupIndex(spark, root, "dd_check")
    fresh.build(docs.read, "doc_id", "text")
    val pairs = sameRows("dedup pairs", dd.currentPairs, fresh.currentPairs, perturb)
    fresh.drop()
    val qIds = batches(math.max(0, n - 1)).get("queries").elements().asScala
      .map(_.asLong()).toSeq
    val q = queries(qIds)
    val cols = Seq("query_id", "neighbor_id", "cos")
    val exact = bruteForce(q).select(cols.map(col): _*)
    val full = sameRows("full-probe search", ann.search(q, "doc_id", "embedding",
      k, cells).select(cols.map(col): _*), exact)
    // quality figures, outside the checks: recall of the serving probe
    // width, and how many planted duplicates the index holds
    val probed = ann.search(q, "doc_id", "embedding", k, nProbe)
    val hit = probed.join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    extras("ann_index.recall_at_k") = hit.toDouble / math.max(1L, exact.count())
    extras("dedup_index.planted_found_ratio") = plantedFound(n)
    pairs ++ full
  }

  /** Planted (near-)copies whose two docs are unchanged at the end, and
    * the share of them the index reports as pairs. */
  private def plantedFound(n: Int): Double = {
    val touchedAt = mutable.HashMap.empty[Long, Int]
    for ((w, i) <- batches.take(n).zipWithIndex;
         id <- ids(w, "updated") ++ ids(w, "deleted")) touchedAt(id) = i
    val alive = for {
      (w, i) <- batches.take(n).zipWithIndex
      p <- w.get("planted").elements().asScala
      a = p.get(0).asLong(); b = p.get(1).asLong()
      if touchedAt.get(a).forall(_ < i) && touchedAt.get(b).forall(_ < i)
    } yield (math.min(a, b), math.max(a, b))
    if (alive.isEmpty) return 1.0
    val found = dd.currentPairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    alive.count(found).toDouble / alive.size
  }

  override def kernels(): Unit = {
    val d = docs.read.select("text", "embedding").cache()
    val rows = d.count()
    def rate(name: String, c: Column): Unit = {
      d.select(c.as("x")).agg(count(col("x"))).collect() // warm
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 5e8) {
        d.select(c.as("x")).agg(count(col("x"))).collect()
        reps += 1
      }
      extras(s"kernels.${name}_rows_per_s") = rows * reps / ((System.nanoTime() - t0) / 1e9)
    }
    tr.span("kernels.shingle")(rate("shingle", size(TextFunctions.shingles(col("text"), 3))))
    tr.span("kernels.minhash")(rate("minhash",
      HashExpressions.minhashSig(TextFunctions.shingles(col("text"), 3), 64)))
    tr.span("kernels.dot")(rate("dot", VectorFunctions.dot(col("embedding"), col("embedding"))))
    d.unpersist(blocking = true)
  }
}
