package graft
import org.apache.spark.sql.SparkSession

/** Diagnostic main: attribute a query's FIRST-run (cold) cost.
  *
  * Runs each named query twice in a fresh session — cold then warm —
  * optionally with whole-stage codegen disabled (`SPARK_GRAFT_NOCODEGEN=1`)
  * to separate janino compile time from execution. Round 18's bench
  * flagged `pipeline_docs`/`group_advantage` as in-suite regressions;
  * their solo-warm times were at ref, so the delta is first-run cost —
  * this tool pins down whether that cost is codegen compilation.
  */
object ProfileCold {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val noCodegen = sys.env.get("SPARK_GRAFT_NOCODEGEN").contains("1")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // match Bench: uniform WSCG class names so shape-identical stages
      // hit the compile cache (see Bench.scala)
      .config("spark.sql.codegen.useIdInClassName", "false")
    if (noCodegen) b.config("spark.sql.codegen.wholeStage", "false")
    if (sys.env.get("SPARK_GRAFT_INTERP").contains("1")) {
      b.config("spark.sql.codegen.wholeStage", "false")
      b.config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same session warm-up as Bench so the generic scan/shuffle/window
    // bring-up lands nowhere
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.read.parquet(s"$sfDir/region.parquet")
      w.groupBy(col("r_regionkey")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("r_regionkey")).orderBy(col("n"))))
        .count()
      if (sys.env.get("SPARK_GRAFT_ICUFORCE").contains("1")) {
        val t0 = System.nanoTime()
        Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
        println(f"[icuforce] clinit took ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      if (sys.env.get("SPARK_GRAFT_ICUWARM").contains("1"))
        // non-constant-foldable so the case-mapping runs in an executor
        // task and triggers CollationAwareUTF8String.<clinit> there
        w.select(
          lower(concat(col("r_name"), lit(" Grüße WÖRLD Ärger"))).as("a"),
          upper(concat(col("r_name"), lit(" straße"))).as("b"),
          initcap(concat(col("r_name"), lit(" éclair tōkyō"))).as("c"))
          .agg(max(col("a")), max(col("b")), max(col("c"))).count()
      System.gc()
    }
    // stage-level attribution: submission→completion wall time per stage
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        t0.put(s.stageInfo.stageId, System.nanoTime())
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val dt = (System.nanoTime() -
          t0.getOrDefault(s.stageInfo.stageId, System.nanoTime())) / 1e9
        val m = s.stageInfo.taskMetrics
        println(f"[stage] id=${s.stageInfo.stageId} tasks=${s.stageInfo.numTasks} wall=$dt%.3f run=${m.executorRunTime}ms cpu=${m.executorCpuTime / 1000000}ms deser=${m.executorDeserializeTime}ms gc=${m.jvmGCTime}ms ${s.stageInfo.name.take(60)}")
      }
    })
    // in-process stack sampler over executor task threads (diagnostic)
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // stack sampling is opt-in: Thread.getAllStackTraces forces global
    // safepoints every 10 ms, which inflates the very cold numbers this
    // tool attributes (measured ~2x on compile-heavy queries)
    val sampleEnabled = sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")
    val sampler = new Thread(() => {
      while (true) {
        if (sampleEnabled && sampling.get()) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (t.getName.startsWith("Executor task launch worker") && st.nonEmpty)
              samples.add(st.take(10).map(_.toString).mkString("|"))
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    // codegen-compile attribution: Spark's codahale HISTOGRAMS record
    // every Janino compile; getCount on a histogram is the SAMPLE count
    // (number of compiled units), not a sum — so both numbers here are
    // unit counts, and byte/ms totals are not recoverable from this API
    // (ADVICE r19: the old srcbytes/compileMs names implied otherwise)
    import org.apache.spark.metrics.source.CodegenMetrics
    def compileCounts(): (Long, Long) = (
      CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(tag: String): Double = {
        println(s"[run] $name $tag begin")
        val (sz0, n0) = compileCounts()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val tExec = System.nanoTime()
        df.count()
        val t1 = System.nanoTime()
        val (sz1, n1) = compileCounts()
        println(f"[phase] $name $tag build=${(tPlan - t0) / 1e9}%.3f plan=${(tExec - tPlan) / 1e9}%.3f exec=${(t1 - tExec) / 1e9}%.3f compiles=${n1 - n0} srcUnits=${sz1 - sz0}")
        // same per-query hygiene as Bench: queries are independent
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
        (t1 - t0) / 1e9
      }
      sampling.set(true)
      val cold = once("cold")
      sampling.set(false)
      val warm = once("warm")
      println(f"[profile] $name codegen=${!noCodegen} cold=$cold%.3f warm=$warm%.3f delta=${cold - warm}%.3f")
      import scala.jdk.CollectionConverters._
      val top = samples.asScala.toSeq
        .groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy(-_._2).take(6)
      top.foreach { case (st, n) =>
        println(s"[sampled-stack] n=$n")
        st.split("\\|").foreach(f => println(s"    $f"))
      }
      samples.clear()
    }
    spark.stop()
  }
}
