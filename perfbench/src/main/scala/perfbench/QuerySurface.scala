package perfbench

import graft.SparkEntry

/** Workload `query_surface`: the oracle-checked analytics. Set-up runs
  * `SparkEntry.warmupAttributed` (repeated, see [[Main.SetUpRepeats]]); the
  * untimed warm-up pass writes each query's result to
  * `<work>/check/<query>` for run.py's oracle check.
  * Each measured op builds one query and writes it to the `noop` sink;
  * every pass runs each query once, in an order drawn from the seed. */
object QuerySurface {
  /** The measured queries: every `Stride`-th of each family in name order,
    * so each family keeps its share of the surface. A cold pass over all 155
    * takes longer on a few cores than one benchmark run may take. */
  val Stride = 8
  val Measured: Seq[String] = Families.table.flatMap { case (_, qs) =>
    qs.sorted.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.opts.data
    val queries = SparkEntry.queries
    val order = new scala.util.Random(ctx.opts.seed).shuffle(Measured)
    // each set-up drops the memoized derivations and derives them afresh
    def setUp(i: Int) = ctx.setUpRun(i) {
      SparkEntry.invalidate(spark, data)
      SparkEntry.warmupAttributed(spark, data)
    }
    setUp(0)
    val unchecked = scala.collection.mutable.ArrayBuffer[String]()
    order.foreach { q =>
      val ok = ctx.warmOp(q, q)(
        queries(q)(spark, data).write.mode("overwrite").parquet(s"${ctx.opts.work}/check/$q"))
      if (!ok) unchecked += q
    }
    if (unchecked.nonEmpty) ctx.problems += s"check pass failed for ${unchecked.mkString(", ")}"
    val (wall, cpu) = (1 until Main.SetUpRepeats).map(setUp).last
    wall.foreach { case (d, s) => ctx.setLayer(s"warmup.${d}_s", s, "s") }
    ctx.setLayer("warmup.exec_s", cpu.map(_._2).sum, "s")

    var build = 0.0
    var exec = 0.0
    val passSums = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    ctx.measure { pass =>
      val sums = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
      order.foreach { q =>
        ctx.timedOp(s"$pass.$q", q) {
          val (df, b) = ctx.seconds(queries(q)(spark, data))
          val (_, e) = ctx.seconds(df.write.format("noop").mode("overwrite").save())
          build += b
          exec += e
        }.foreach(s => sums(Families.familyOf.getOrElse(q, "text")) += s)
      }
      passSums += sums.toMap
    }
    val ops = math.max(1, ctx.attempted)
    ctx.setLayer("query.build_s", build / ops, "s")
    ctx.setLayer("query.exec_s", exec / ops, "s")
    Families.names.foreach { f =>
      ctx.setLayer(s"family.${f}_s", Stats.percentile(passSums.map(_.getOrElse(f, 0.0)).toSeq, 50), "s")
    }
    ctx.detail("passes") = passSums.size
    ctx.detail("queries") = order
    ctx.detail("per_query_s") = ctx.timed.groupBy(_._1).map { case (q, xs) =>
      q -> Stats.percentile(xs.map(_._2).toSeq, 50) }
  }
}
