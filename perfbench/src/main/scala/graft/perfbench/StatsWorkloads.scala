package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.PanelGenerator
import graft.harness.SimulationRunner
import graft.stats.{Battery, Design, Estimators, Glm, LocalBattery, Sandwich}

/** The paper's Monte Carlo grid on the replication-parallel route: every
  * pass is one `perRepResults` call over cells (25,25) and (100,100),
  * cached and counted, then the metric table. Cells of 10,000 rows and up
  * are left out of the pass: one rep of one is a single multi-second task
  * that would set the pass time on its own and make a run too long for
  * the benchmark's budget; the traced probes time the estimators on a
  * 400+400 panel instead. */
final class McGrid(spark: SparkSession, seed: Long) extends Workload(spark) {
  private val cells = Seq(SimulationRunner.Cell(25, 25), SimulationRunner.Cell(100, 100))
  private val reps = 2
  private var perRep: DataFrame = _
  private var metrics: Array[Row] = Array.empty

  val ops: Seq[String] = Seq("harness.per_rep", "harness.metrics")

  def setup(): Unit = ()

  def runOp(op: String): Unit = op match {
    case "harness.per_rep" =>
      if (perRep != null) perRep.unpersist()
      perRep = SimulationRunner.perRepResults(spark, cells, reps, Battery.methodNames, baseSeed = seed).cache()
      perRep.count()
    case "harness.metrics" =>
      metrics = SimulationRunner.metrics(perRep).collect()
  }

  def check(): Seq[Main.Check] = {
    val nMetricRows = cells.size * SimulationRunner.coefNames.size * Battery.methodNames.size
    val incomplete = metrics.count(r => r.getAs[Long]("n_reps_used") != reps)
    val complete = Main.Check("harness.metrics", metrics.length == nMetricRows && incomplete == 0,
      s"${metrics.length} metric rows, $incomplete with n_reps_used != $reps")
    // The replication-parallel route against the distributed battery on
    // the same generated panel, for one rep of the smallest cell and one
    // method chosen by the seed.
    val rep = 1 + (seed % reps).toInt
    val cell = cells.head
    val cfg = PanelGenerator.Config(nInternal = cell.nInternal, nExternal = cell.nExternal)
    val panel = PanelGenerator.panel(spark, seed + rep, cfg).cache()
    val methods = Seq(Battery.methodNames((seed % Battery.methodNames.size).toInt))
    val local = perRep.filter(col("n_internal") === cell.nInternal && col("n_external") === cell.nExternal &&
        col("replication") === rep).collect()
    val routes = methods.map { m =>
      val dist = Battery.run(m, panel)
      val mine = local.filter(_.getAs[String]("method") == m)
      val ok = mine.length == SimulationRunner.coefNames.size && SimulationRunner.coefNames.indices.forall { i =>
        val r = mine.find(_.getAs[String]("coef") == SimulationRunner.coefNames(i)).get
        Close(r.getAs[Double]("estimate"), dist.betaR(i)) && Close(r.getAs[Double]("se"), dist.seBetaR(i))
      }
      Main.Check("harness.per_rep", ok, s"$m rep $rep of cell ${cell.nInternal}/${cell.nExternal}: local vs distributed")
    }
    panel.unpersist()
    complete +: routes
  }

  override def layers(): Unit = {
    val cfg = PanelGenerator.Config(nInternal = 400, nExternal = 400)
    repeat("gen.panel_reps", 2)(PanelGenerator.panelReps(spark, seed, cfg, reps)
      .write.format("noop").mode("overwrite").save())
    repeat("gen.panel", 2)(PanelGenerator.panel(spark, seed, cfg)
      .write.format("noop").mode("overwrite").save())
    val df = PanelGenerator.panel(spark, seed, cfg).cache()
    df.count()
    val local = repeat("stats.local.panel_load", 3)(LocalBattery.fromDataFrame(df, "t", "user_id"))
    Battery.methodNames.foreach(m => repeat(s"stats.local.$m", 5)(LocalBattery.run(m, local)))
    df.unpersist()
    // a 100+100 panel: the distributed route's cost is its jobs, not its rows
    val small = PanelGenerator.panel(spark, seed, PanelGenerator.Config(nInternal = 100, nExternal = 100)).cache()
    small.count()
    distributedProbes(small)
    small.unpersist()
  }

  /** The rows-parallel route: each method once, then the estimator steps
    * it chains (propensity IRLS, WLS, tilt, meat). */
  private def distributedProbes(panel: DataFrame): Unit = {
    Battery.methodNames.foreach(m => tr.span(s"stats.dist.$m")(Battery.run(m, panel)))
    tr.span("stats.glm_logistic")(Glm.logistic(panel, Battery.pH, col("a")))
    tr.span("stats.glm_wls")(Glm.wls(panel, Battery.betaH, col("y"), lit(1.0)))
    tr.span("stats.fit_tilt")(Estimators.fitTilt(panel, 0.5))
    tr.span("stats.sandwich_meat")(Sandwich.meat(panel, Battery.betaH, col("user_id")))
    // the reference's fast-meat microbenchmark shape: P=5 scores, K=34
    // clusters, T=11 rows per cluster
    val (p, k, t) = (5, 34, 11)
    val rng = new scala.util.Random(seed)
    import spark.implicits._
    val rows = for (c <- 0 until k; _ <- 0 until t) yield (c, Array.fill(p)(rng.nextGaussian()))
    val scoresDf = rows.toDF("k", "s").select((col("k") +: (0 until p).map(j => col("s")(j).as(s"s$j"))): _*).cache()
    scoresDf.count()
    val scores = Design((0 until p).map(j => (s"s$j", col(s"s$j"))))
    repeat("stats.sandwich_meat_fastmeat", 5)(Sandwich.meat(scoresDf, scores, col("k")))
    scoresDf.unpersist()
  }
}
