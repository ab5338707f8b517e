package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Bench
import graft.multimodal.{Decode, FastPng}
import graft.pipeline.Dedup
import graft.sketch.MinHash
import graft.spark.{functions => gf}

/** The repository benchmark: one workload, one seed, one process.
  *
  * `--trace 0` times the program's north-star job (`Bench.pipelineE2E`:
  * signatures → banded LSH walk → exact confirm → connected components →
  * per-partition HLL) as one fused call at local[4], each run paired with a
  * fixed reference job, and reports end-to-end metrics. `--trace 1` alternates that fused call with a layered pass that
  * calls each layer's public function on its own and materializes its
  * result, then times the fused call at local[1] on the same corpus, and
  * reports per-layer metrics. Both modes write one JSON document (path
  * report and result) to `<work>/result.json`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      scale: Double)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv.get("scale").map(_.toDouble).getOrElse(1.0))
    val shape = Corpus.shapes.get(a.workload).map(_.scaled(a.scale)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val out = new Run(a, shape).run()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "result.json"), out)
  }
}

/** one layered (traced) pass: wall per layer, the counts it produced, and
  * the wall of its untimed output checks. */
final case class Layered(walls: Seq[(String, Double)], counts: Map[String, Double],
    checkS: Double) {
  def total: Double = walls.map(_._2).sum
}

final class Run(a: Main.Args, shape: Corpus.Shape) {
  private val cfg = Dedup.defaultConfig
  private val trace = new Trace
  // the host has 4 cores; scaling_eff_1to4 compares local[4] with local[1]
  private val cores = 4
  private val corpusPath = new java.io.File(a.work, "corpus.parquet").getPath
  private val localDir = new java.io.File(a.work, "spark-local")
  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val path = mutable.LinkedHashMap.empty[String, Any]
  private var rep = 0
  private var phaseT0 = System.nanoTime()

  /** wall since the previous phase mark, kept in the path report */
  private def phase(name: String): Double = {
    val s = secondsSince(phaseT0)
    phaseT0 = System.nanoTime()
    path(s"phase.$name") = s
    s
  }

  private def session(cpus: Int): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}-$cpus")
      // pinned at every core count: the local[1] and local[4] legs run the
      // identical plan, so their ratio isolates parallelism
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(a.work, "warehouse").getPath)
      // the semi-filter's default size floor (2^20 rows) is scaled to these
      // corpora, so sparse_decode reaches the filtered confirm path
      .config("graft.confirm.semiFilterMinRows", (1L << 14).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(trace)
    spark
  }

  private def check(name: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check failed: $name" }
  }

  private def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.toString.linesIterator.nextOption().getOrElse("")}"
        None
    }
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  // ---- the timed units ----

  /** A fixed Spark job that shares no code with the program: an 8x explode,
    * a hash-partitioned exchange, a sort and a hash aggregate over
    * `spark.range`. Run right before each fused run, it measures what the
    * host gives a job of that shape at that moment: two CPU-burning
    * co-tenants slowed the fused job by 25% and moved `cost_vs_ref` (fused
    * wall / reference wall) by 4%. Returns its wall. */
  private def reference(): Double = {
    rep += 1
    val (n, s) = Trace.timed(spark.sparkContext, s"reference#$rep") {
      spark.range(0L, 600000L, 1L, cores)
        .select(col("id"), explode(sequence(lit(0), lit(7))).as("b"))
        .select(xxhash64(col("id"), col("b")).as("k"), col("id"))
        .repartition(cores, col("k")).sortWithinPartitions("k")
        .groupBy(pmod(col("k"), lit(1L << 16))).agg(count(lit(1)).as("n"), min(col("id")))
        .agg(sum("n")).head().getLong(0)
    }
    check(s"reference job row count $n == 4800000", n == 4800000L)
    s
  }

  /** the fused job; for sparse_decode the wall also covers decoding every
    * image. Returns (wall, HLL row sum, peak task execution memory). */
  private def fused(corpus: DataFrame): (Double, Long, Long) = {
    rep += 1
    val group = s"fused#$rep"
    val ((rows, decoded), wall) = Trace.timed(spark.sparkContext, group) {
      val d = if (shape.withBytes) {
        val m = Decode.imageMeta(corpus).persist(StorageLevel.MEMORY_AND_DISK)
        m.count()
        Some(m)
      } else None
      (Bench.pipelineE2E(spark, corpus), d)
    }
    decoded.foreach(_.unpersist(true))
    (wall, rows, trace.stats(spark.sparkContext, group).peakExecBytes)
  }

  /** each layer's public call on its own, its result materialized before
    * the next layer starts. With `ref`, also runs the untimed output checks
    * and fills the path report. */
  private def layered(corpus: DataFrame, nRows: Long, ref: Option[DataFrame]): Layered = {
    rep += 1
    val sc = spark.sparkContext
    val walls = mutable.ArrayBuffer.empty[(String, Double)]
    val counts = mutable.Map.empty[String, Double]
    def g(layer: String) = s"$layer#$rep"
    def layer[A](name: String)(body: => A): A = {
      val (r, s) = Trace.timed(sc, g(name))(body)
      walls += name -> s
      val st = trace.stats(sc, g(name))
      counts(s"$name.task_s") = st.taskS
      counts(s"$name.gc_s") = st.gcS
      counts(s"$name.jobs") = st.jobs
      counts(s"$name.shuffle_mb") = st.shuffleWriteBytes / 1048576.0
      counts(s"$name.spill_mb") = st.spillBytes / 1048576.0
      counts(s"$name.max_task_s") = st.maxTaskS
      counts(s"$name.peak_task_mem_mb") = st.peakExecBytes / 1048576.0
      r
    }
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df; df.persist(StorageLevel.MEMORY_AND_DISK) }

    val decoded = if (shape.withBytes) Some(layer("decode") {
      val d = keep(Decode.imageMeta(corpus).toDF()); counts("decode.rows") = d.count().toDouble; d
    }) else None
    val sigs = layer("sig") {
      val s = keep(Dedup.signatures(corpus, cfg)
        .select(col("image_id"), col("phash"), col("simhash"),
          gf.band_keys(col("minhash"), cfg.bands, cfg.rowsPerBand).as("bands")))
      counts("sig.rows") = s.count().toDouble
      s
    }
    val cands = layer("walk") {
      val c = Dedup.candidatesFromBands(sigs, cfg); counts("walk.pairs") = c.count().toDouble; c
    }
    val confirmFrom = System.currentTimeMillis()
    val edges = layer("confirm") {
      val e = keep(Dedup.confirm(cands, corpus, cfg).select("id_a", "id_b"))
      counts("confirm.edges") = e.count().toDouble
      e
    }
    val confirmTo = System.currentTimeMillis()
    val clustered = layer("cc") {
      val c = keep(Dedup.clusters(edges, corpus.select("image_id"))); c.count(); c
    }
    val pm = layer("hll")(Dedup.partitionMetrics(clustered).collect())

    val checkT0 = System.nanoTime()
    counts("walk.banded_rows") = counts("sig.rows") * cfg.bands
    counts("confirm.yield") = counts("confirm.edges") / math.max(1.0, counts("walk.pairs"))
    counts("cc.edges") = counts("confirm.edges")
    val rowSum = pm.map(_.getAs[Long]("rows")).sum
    check(s"partitionMetrics row sum $rowSum == corpus rows $nRows", rowSum == nRows)

    ref.foreach { refPairs =>
      // confirm's semi-filter shows as a left-semi join in a plan it executed
      val semi = trace.plansBetween(sc, confirmFrom, confirmTo).exists(_.contains("LeftSemi"))
      counts("confirm.gate_engaged") = if (semi) 1.0 else 0.0
      val local = counts("confirm.edges") <= Dedup.clustersLocalThreshold()
      counts("cc.local") = if (local) 1.0 else 0.0
      counts("sig.simd") = if (MinHash.vectorKernelUsable) 1.0 else 0.0
      if (a.trace) {
        // per-layer figures only the traced run reports
        counts("cc.clusters") = clustered.select("cluster_id").distinct().count().toDouble
        // HLL against the exact distinct count per partition of the same frame
        val exact = clustered.withColumn("part", spark_partition_id())
          .groupBy("part").agg(countDistinct("cluster_id").as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val est = pm.map(r => r.getAs[Int]("part") -> r.getAs[Double]("distinct_clusters_est"))
        counts("hll.rel_err") =
          est.map { case (p, e) => math.abs(e - exact.getOrElse(p, 0L)) }.sum /
            math.max(1L, exact.values.sum).toDouble
      }
      val norm = (df: DataFrame) => df.select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b")).distinct()
      val nRef = refPairs.count()
      val found = norm(refPairs).join(norm(edges), Seq("a", "b"), "left_semi").count()
      val recall = if (nRef == 0) 1.0 else found.toDouble / nRef
      counts("pair_recall") = recall
      // flagged, not a failed check: the minhash channel is probabilistic,
      // and the bound on pair_recall catches a change that lowers it
      if (recall < 0.99)
        path("pair_recall_flag") = f"below 0.99: $found of $nRef reference pairs ($recall%.5f)"
      decoded.foreach { d =>
        val bad = d.join(corpus.select("image_id", "w", "h"), "image_id")
          .where(col("w_dec") =!= col("w") || col("h_dec") =!= col("h")).count()
        check(s"decoded w/h == stored w/h ($bad mismatching rows)", bad == 0L)
        val fmts = corpus.groupBy("fmt").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val png = fmts.getOrElse("png", 0L)
        val hits = corpus.where(col("fmt") === "png").select("bytes").rdd.mapPartitions { it =>
          val fp = new FastPng
          Iterator.single(it.count(r => fp.decode(r.getAs[Array[Byte]](0)) != null).toLong)
        }.sum().toLong
        counts("decode.fastpng_hit_ratio") = if (png == 0) 0.0 else hits.toDouble / png
        counts("decode.png_share") = png.toDouble / nRows
        path("fastpng_png_rows") = s"$hits/$png"
        path("imageio_jpeg_rows") = fmts.getOrElse("jpeg", 0L)
      }
      path("minhash_kernel") = if (MinHash.vectorKernelUsable) "vector" else "scalar"
      path("confirm_semi_filter") = if (semi) "engaged" else "declined"
      path("cc_mode") = if (local) "driver" else "distributed"
      path("cc_edges_vs_local_threshold") = s"${counts("confirm.edges").toLong}/${Dedup.clustersLocalThreshold()}"
      path("walk_pairs") = counts("walk.pairs").toLong
      path("pair_recall") = recall
    }
    persisted.foreach(_.unpersist(true))
    Layered(walls.toSeq, counts.toMap, secondsSince(checkT0))
  }

  // ---- the run ----

  def run(): String = {
    if (localDir.exists()) graft.util.Fs.deleteRecursively(localDir) // stale dirs of a killed run
    path("phase.jvm_start") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    phaseT0 = System.nanoTime()
    session(cores)
    val sessionS = phase("session")

    // generation and load, three times: the median enters setup_s, and
    // identical passes (same seed) must give an identical corpus
    val gens = (1 to 3).map { _ =>
      val c = Corpus.write(spark, shape, a.seed, corpusPath)
      val d = c.agg(count(lit(1)), bit_xor(xxhash64(col("image_id"), col("caption"), col("phash"))))
        .head()
      ((d.getLong(0), d.getLong(1)), phase("generate"))
    }
    check("same seed gives the same corpus", gens.map(_._1).distinct.size == 1)
    val nRows = gens.head._1._1
    var corpus = spark.read.parquet(corpusPath)
    // reference pairs: the exact pHash-channel edges
    val ref = Dedup.dupPairs(corpus, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    path("reference_pairs") = ref.count()
    val refS = phase("reference")

    // JIT warm-up: one layered pass, which also runs the output checks and
    // fills the path report, then one fused run, whose plans the layered
    // pass does not compile (walls discarded; the checks are timed apart and
    // kept out of setup_s)
    val warm = attempt("warm-up layered pass")(layered(corpus, nRows, Some(ref)))
    attempt("warm-up reference job")(reference())
    attempt("warm-up fused run")(fused(corpus)).foreach { case (_, rows, _) =>
      check(s"partitionMetrics row sum $rows == corpus rows $nRows (warm-up)", rows == nRows)
    }
    val warmS = phase("warm-up+checks") - warm.map(_.checkS).getOrElse(0.0)
    ref.unpersist(true)
    val setupS = sessionS + median(gens.map(_._2)) + refS + warmS
    path("setup_s_parts") = f"session $sessionS%.3f + generate ${median(gens.map(_._2))}%.3f " +
      f"+ reference $refS%.3f + warm-up $warmS%.3f"

    val checks = warm.map(_.counts).getOrElse(Map.empty)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** fused runs, each after a reference run when `withRef`, until `until`
      * (at least `min` good ones): (fused wall, peak, reference wall) each */
    def fusedLeg(label: String, until: Long, min: Int,
        withRef: Boolean = true): Seq[(Double, Long, Double)] = {
      val out = mutable.ArrayBuffer.empty[(Double, Long, Double)]
      while (out.size < min || System.nanoTime() < until) {
        val r = if (withRef) attempt(s"reference job $label")(reference()) else Some(0.0)
        attempt(s"fused job $label")(fused(corpus)).foreach { case (w, rows, peak) =>
          check(s"partitionMetrics row sum $rows == corpus rows $nRows ($label)", rows == nRows)
          r.foreach(rw => out += ((w, peak, rw)))
        }
        if (out.isEmpty && failed > 3) throw new IllegalStateException(failures.mkString("; "))
      }
      out.toSeq
    }
    if (!a.trace) {
      val four = fusedLeg("local[4]", deadline, 3)
      phase("local4")
      metrics("cost_vs_ref") = median(four.map(f => f._1 / f._3)) -> "ratio"
      metrics("setup_s") = setupS -> "s"
      metrics("pair_recall") = checks.getOrElse("pair_recall", 0.0) -> "ratio"
      metrics("peak_task_mem_mb") = median(four.map(_._2 / 1048576.0)) -> "MB"
      metrics("ok_ratio") = (1.0 - failed.toDouble / attempted) -> "ratio"
      path("rows_per_s") = nRows / median(four.map(_._1))
      path("walls_local4") = four.map(w => f"${w._1}%.3f").mkString(" ")
      path("walls_reference") = four.map(w => f"${w._3}%.3f").mkString(" ")
    } else {
      // local[4]: fused and layered passes alternate for ~65% of the window;
      // then the fused job alone at local[1] on the same corpus
      val fusedWalls = mutable.ArrayBuffer.empty[Double]
      val runs = mutable.ArrayBuffer.empty[Layered]
      val split = System.nanoTime() + (a.seconds * 0.65e9).toLong
      while (runs.size < 2 || System.nanoTime() < split) {
        fusedWalls ++= fusedLeg("local[4]", 0L, 1, withRef = false).map(_._1)
        attempt("layered pass")(layered(corpus, nRows, None)).foreach(runs += _)
        if (runs.isEmpty && failed > 3) throw new IllegalStateException(failures.mkString("; "))
      }
      phase("local4")
      session(1)
      corpus = spark.read.parquet(corpusPath)
      val one = fusedLeg("local[1]", deadline, 1, withRef = false).map(_._1)
      phase("local1")
      def med(key: String): Double = median(runs.flatMap(_.counts.get(key)).toSeq)
      def wall(l: String): Double = median(runs.flatMap(_.walls.collectFirst { case (`l`, s) => s }).toSeq)
      def put(k: String, v: Double, unit: String): Unit = metrics(k) = v -> unit
      val dec = shape.withBytes
      put("decode.s", if (dec) wall("decode") else 0.0, "s")
      put("decode.rows", if (dec) med("decode.rows") else 0.0, "count")
      put("decode.task_s", if (dec) med("decode.task_s") else 0.0, "s")
      put("decode.fastpng_hit_ratio", checks.getOrElse("decode.fastpng_hit_ratio", 0.0), "ratio")
      put("decode.png_share", checks.getOrElse("decode.png_share", 0.0), "ratio")
      put("sig.s", wall("sig"), "s")
      put("sig.rows", med("sig.rows"), "count")
      put("sig.task_s", med("sig.task_s"), "s")
      put("sig.gc_s", med("sig.gc_s"), "s")
      put("sig.simd", checks.getOrElse("sig.simd", 0.0), "bool")
      put("walk.s", wall("walk"), "s")
      put("walk.jobs", med("walk.jobs"), "count")
      put("walk.banded_rows", med("walk.banded_rows"), "count")
      put("walk.pairs", med("walk.pairs"), "count")
      put("walk.shuffle_mb", med("walk.shuffle_mb"), "MB")
      put("walk.spill_mb", med("walk.spill_mb"), "MB")
      put("walk.max_task_s", med("walk.max_task_s"), "s")
      put("confirm.s", wall("confirm"), "s")
      put("confirm.jobs", med("confirm.jobs"), "count")
      put("confirm.edges", med("confirm.edges"), "count")
      put("confirm.yield", med("confirm.yield"), "ratio")
      put("confirm.gate_engaged", checks.getOrElse("confirm.gate_engaged", 0.0), "bool")
      put("confirm.shuffle_mb", med("confirm.shuffle_mb"), "MB")
      put("confirm.peak_task_mem_mb", med("confirm.peak_task_mem_mb"), "MB")
      put("cc.s", wall("cc"), "s")
      put("cc.jobs", med("cc.jobs"), "count")
      put("cc.edges", med("cc.edges"), "count")
      put("cc.clusters", checks.getOrElse("cc.clusters", 0.0), "count")
      put("cc.local", checks.getOrElse("cc.local", 0.0), "bool")
      put("hll.s", wall("hll"), "s")
      put("hll.rel_err", checks.getOrElse("hll.rel_err", 0.0), "ratio")
      put("rows_per_s", nRows / median(fusedWalls.toSeq), "1/s")
      put("trace.overhead_ratio", median(runs.map(_.total).toSeq) / median(fusedWalls.toSeq), "ratio")
      put("scaling_eff_1to4", median(one) / (4 * median(fusedWalls.toSeq)), "ratio")
      path("walls_local4") = fusedWalls.map(w => f"$w%.3f").mkString(" ")
      path("walls_local1") = one.map(w => f"$w%.3f").mkString(" ")
      path("walls_layered") = runs.map(r => f"${r.total}%.3f").mkString(" ")
    }
    spark.stop()
    path("rows") = nRows

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    def any(v: Any): String = v match {
      case d: Double => num(d); case n: Int => n.toString; case n: Long => n.toString
      case s => str(s.toString)
    }
    val m = metrics.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    val correct = failed == 0 && warm.isDefined
    s"""{"report":{"workload":${str(a.workload)},"seed":${a.seed},""" +
      path.map { case (k, v) => s"${str(k)}:${any(v)}" }.mkString(",") +
      s""","failures":[${failures.map(str).mkString(",")}]},""" +
      s""""result":{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}}}}"""
  }
}
