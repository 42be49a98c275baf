package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import graft.Ckpt
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** catalog_curation: one closed-loop client runs a fixed set of
  * SparkEntry queries from Text, Corpus and Similarity, one after
  * another, each result written to the `noop` sink as graft.Bench
  * does; memo caches are cleared once per pass. The seed only permutes
  * the order within a pass.
  *
  * The set is the construct-dominated queries of ROADMAP's layer probe,
  * one per loop or materialization pattern, so that construct-time
  * and job-count work shows here. */
object Catalog {
  type Query = (SparkSession, String) => DataFrame

  val Queries: Map[String, Query] = Text.queries ++ Corpus.queries ++ Similarity.queries

  val QuerySet: Seq[String] = Seq(
    "q_cluster_sizes", // connected-components fixpoint, an eager Ckpt.matNow per round
    "q_bpe_apply",     // BPE merge loop
    "q_kmeans",        // Lloyd iterations
    "q_bm25")          // construct-time postings build into a shared memo

  def run(c: Ctx): Unit = {
    import c._
    val dir = s"$dataDir/sf0.01"
    rep.inputs ++= Seq("tables" -> "sf0.01", "queries" -> QuerySet.size,
      "modules_total" -> Queries.size, "query_set" -> QuerySet)

    val rng = new Random(seed)
    def action(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    var storage = 0L

    /** One pass over the set in a fresh seeded order; returns the
      * wall time of each query that succeeded. */
    def pass(traced: Boolean): Seq[(String, Double)] = {
      Text.clearMemoCaches()
      rng.shuffle(QuerySet).flatMap { q =>
        val t0 = System.nanoTime()
        val ok = rep.op(q) {
          if (!traced) action(Queries(q)(spark, dir))
          else trace.span(q, "op") {
            val df = trace.span("construct", "construct")(Queries(q)(spark, dir))
            trace.span("action", "action")(action(df))
          }
        }.map(_ => q -> Main.since(t0))
        if (traced) storage = math.max(storage, Trace.storageBytes(spark))
        ok
      }
    }

    // Set-up: the verify pass, which writes each result for run.py's
    // oracle digest check, then one untimed pass. Passes keep getting
    // faster after the first (JIT, codegen caches), so both belong to
    // set-up.
    Text.clearMemoCaches()
    QuerySet.foreach { q =>
      val out = s"$workDir/results/$q"
      rep.op(s"verify:$q") {
        Queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
      }.foreach(_ => rep.verify += q -> out)
    }
    pass(false)
    val setup = setupDone()

    val t0 = System.nanoTime()
    if (!traced) {
      val timed = mutable.ArrayBuffer[(String, Double)]()
      var passes = 0
      // at least two passes: with one, the seeded order alone decides
      // which query pays for a shared memo build
      while (passes < 2 || Main.since(t0) < seconds) { timed ++= pass(false); passes += 1 }
      val samples = timed.map(_._2)
      val wall = Main.since(t0)
      val n = samples.size
      rep.metric("setup_s", setup, "s")
      rep.metric("op_p50_s", Stats.median(samples.toSeq), "s", n)
      rep.metric("op_p90_s", Stats.percentile(samples.toSeq, 0.9), "s", n)
      rep.metric("ops_per_s", n / wall, "1/s", n)
      rep.detail ++= Seq("passes" -> passes, "timed_wall_s" -> wall,
        "p90_samples_beyond" -> Stats.beyond(samples.toSeq, 0.9),
        "query_walls_s" -> timed.groupBy(_._1).map { case (q, v) => q -> v.map(_._2) })
    } else {
      // Each traced pass sits between two untraced ones (U T U), so
      // warm-up drift cancels out of the overhead; the per-layer figures
      // come from the traced passes.
      var wallU, wallT = 0.0
      var triples = 0
      val mats = mutable.ArrayBuffer[SparkPlan]()
      var compiles, compileS = 0.0
      def untracedPass(): Unit = { val u0 = System.nanoTime(); pass(false); wallU += Main.since(u0) / 2 }
      while (triples == 0 || Main.since(t0) < seconds) {
        untracedPass()
        val (c0, s0) = Trace.codegen()
        trace.on = true
        Ckpt.planProbe = Some(mats)
        val p0 = System.nanoTime()
        try pass(true)
        finally { trace.on = false; Ckpt.planProbe = None }
        wallT += Main.since(p0)
        val (c1, s1) = Trace.codegen()
        compiles += c1 - c0; compileS += s1 - s0
        untracedPass()
        triples += 1
      }
      trace.drain()
      val ops = trace.spansOf("op")
      val n = math.max(ops.size, 1).toDouble
      val actions = trace.spansOf("action")
      // Self-time split of each query, each part read on its own:
      // construct is its span; plan is the QueryExecution tracker
      // phases inside the action; execute is the time inside the action
      // when Spark reported a SQL execution or one of the action's jobs
      // running, outside planning. Action time that none of these
      // covers shows as the error.
      val split = ops.filter(_.seconds > 0.3).map { op =>
        val kids = trace.children(op)
        val construct = kids.filter(_.kind == "construct").map(_.durationUs).sum
        val act = kids.filter(_.kind == "action")
        val plan = act.map(trace.planUs).sum
        val execute = act.map(trace.executeUs).sum
        val err = math.abs(op.durationUs - (construct + plan + execute)).toDouble / op.durationUs
        Map("query" -> op.name, "wall_s" -> op.seconds, "construct_s" -> construct / 1e6,
          "plan_s" -> plan / 1e6, "execute_s" -> execute / 1e6,
          "execute_jobs_s" -> act.map(trace.jobUs).sum / 1e6, "err" -> err)
      }
      val errs = split.map(_("err").asInstanceOf[Double])
      rep.detail("decomposition_err_max") = if (errs.isEmpty) 0.0 else errs.max
      rep.detail("decomposition") = split
      rep.check("trace:decomposition", errs.forall(_ <= 0.1),
        s"construct+plan+execute is off the query wall by ${errs.max}")
      Layers.report(rep, Layers.execute(trace) ++ Layers.call(trace, "construct", "construct") ++ Map(
        "plan.s" -> actions.map(trace.planUs).sum / 1e6 / n,
        "codegen.compiles" -> compiles / n,
        "codegen.compile_s" -> compileS / n,
        "ckpt.mats" -> mats.size / n,
        "ckpt.storage_bytes" -> storage.toDouble,
        "trace.overhead_frac" -> (wallT / wallU - 1.0)), ops.size)
      rep.detail ++= Seq("triples" -> triples, "untraced_wall_s" -> wallU, "traced_wall_s" -> wallT)
    }
  }
}
