package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.{HashingEmbedder, MinHash}
import graft.functions.Fns
import graft.operators.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.runtime.Checkpoint
import scala.collection.mutable

/** Closed-loop dedup benchmark: one operation at a time, from one JVM, at
  * local[4] and (interleaved, same input) local[1]. Writes one JSON object
  * to `--out`; `perfbench/run.py` builds, launches and reports.
  *
  * Usage: PerfBench --workload crawl_batch|dup_chains --seed N --seconds S
  *   --trace 0|1 --docs N --work DIR --out FILE
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        docs: Int, work: File, out: File)

  /** One measured operation. `completed`: it returned an output, so its
    * timings count; `ok`: that output was also correct.
    */
  final case class Op(cpus: Int, traced: Boolean, wallS: Double, cpuS: Double,
                      sysS: Double, stealS: Double, scratchMb: Double, recall: Double,
                      completed: Boolean, error: Option[String], clusters: Long,
                      walls: Map[String, Double], trace: Option[StageTrace]) {
    def ok: Boolean = error.isEmpty
  }

  private val cfg = DedupConfig()
  private val Hi = 4
  private val Lo = 1
  private val NominalOpS = 6.0
  private val out = mutable.LinkedHashMap[String, (Double, String)]()
  private def put(name: String, value: Double, unit: String): Unit = out(name) = (value, unit)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("docs").toInt, new File(kv("work")), new File(kv("out")))
    require(Set("crawl_batch", "dup_chains")(a.workload), s"unknown workload ${a.workload}")
    val code = try { run(a); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  private def session(cpus: Int, localDir: File, work: File): SparkSession = {
    localDir.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$cpus")
      // data-sized for these few-MB inputs (one per task slot of the
      // local[4] leg) and fixed across both legs, like graft.Bench does
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's build defaults (build.sbt javaOptions)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.rdd.compress", "true")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def run(a: Args): Unit = {
    a.work.mkdirs()
    val corpus = new File(a.work, "corpus.parquet").getAbsolutePath
    val digestFile = Paths.get(a.work.getParentFile.getAbsolutePath, "digests",
      s"${a.workload}-${a.seed}-${a.docs}.sha1")
    var opSeq = 0
    def localDir() = { opSeq += 1; new File(a.work, s"spark-local-$opSeq") }

    // ---- set-up, three times: session start, input generation + load,
    // truth pairs. The first repetition also pays JVM/JIT start.
    var truth: Seq[(String, String)] = Nil
    var texts: Array[String] = Array.empty
    var truthEdges = Set.empty[(String, String)]
    val setupTimes = (1 to 3).map { _ =>
      val ld = localDir()
      val (_, t) = timed {
        val spark = session(Hi, ld, a.work)
        try {
          val gen = if (a.workload == "crawl_batch") Inputs.crawl(spark, a.docs, a.seed)
                    else Inputs.chains(spark, a.docs, a.seed)
          gen.write.mode("overwrite").parquet(corpus)
          val rows = spark.read.parquet(corpus).select("url", "text", "family").collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(_._1)
          require(rows.length == a.docs, s"corpus has ${rows.length} docs, want ${a.docs}")
          truth = Inputs.truthPairs(rows.toSeq)
          texts = rows.map(_._2)
          // the same pairs as edges between exact-collapse representatives
          // (min url per text), for the edge-level recall of the stage probe
          val textOf = rows.map(r => r._1 -> r._2).toMap
          val repOf = rows.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._1).min }
          truthEdges = truth.collect { case (x, y) if textOf(x) != textOf(y) =>
            val (p, q) = (repOf(textOf(x)), repOf(textOf(y)))
            if (p < q) (p, q) else (q, p)
          }.toSet
        } finally spark.stop()
      }
      Host.rmTree(ld)
      t
    }
    require(truth.nonEmpty, "the corpus has no truth pairs")

    // ---- one operation: DedupPipeline.run on a fresh session, so each op
    // starts with an empty Spark local dir
    var refDigest: Option[String] =
      if (Files.exists(digestFile)) Some(Files.readString(digestFile).trim) else None
    def op(cpus: Int, traced: Boolean): Op = {
      val ld = localDir()
      val spark = session(cpus, ld, a.work)
      val st = if (traced) Some(new StageTrace) else None
      st.foreach(spark.sparkContext.addSparkListener)
      val pages = spark.read.parquet(corpus).select("url", "warc_ts", "text")
      spark.sparkContext.setJobDescription(null)
      val sampler = new Host.PeakSampler(ld)
      val cpu0 = Host.processCpuS()
      val (sys0, steal0) = Host.sysAndSteal()
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var wall = 0.0
      var t1Ms = 0L
      val res: Either[String, (Double, Long)] = try {
        val result = DedupPipeline.run(spark, pages, cfg)
        wall = (System.nanoTime() - t0) / 1e9
        t1Ms = System.currentTimeMillis()
        Right(check(result))
      } catch { case e: Exception => Left(String.valueOf(e)) }
      val cpu = Host.processCpuS() - cpu0
      val (sys1, steal1) = Host.sysAndSteal()
      val scratch = sampler.stop()
      spark.stop()
      Host.rmTree(ld)
      val error = res match {
        case Left(e) => Some(e)
        case Right((recall, _)) if recall < 0.99 => Some(f"dup-pair recall $recall%.4f < 0.99")
        case _ => None
      }
      val walls = st.map(_.walls(t0Ms, t1Ms)).getOrElse(Map.empty[String, Double])
      System.err.println(f"perfbench op: local[$cpus] traced=$traced wall=$wall%.3f s " +
        f"cpu=$cpu%.2f s scratch=$scratch%.1f MB error=${error.getOrElse("-")}")
      Op(cpus, traced, wall, cpu, sys1 - sys0, steal1 - steal0, scratch,
        res.map(_._1).getOrElse(0.0), res.isRight, error,
        res.map(_._2).getOrElse(0L), walls, st)
    }

    // correctness of one output: dup-pair recall and the output digest,
    // compared with the first output ever produced for this seed and size
    def check(result: DataFrame): (Double, Long) = {
      val rows = result.select(col("url"), col("component"), col("chunk"), col("cluster_id"),
          col("cluster_size"), col("is_keeper"),
          coalesce(concat_ws(";", transform(col("alt_urls"), x => x.getField("url"))), lit("")))
        .collect().map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|"))
        .sorted
      val md = java.security.MessageDigest.getInstance("SHA-1")
      rows.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
      val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
      refDigest match {
        case Some(d) if d != digest =>
          throw new IllegalStateException(s"output digest $digest differs from the first run's $d")
        case Some(_) =>
        case None =>
          Files.createDirectories(digestFile.getParent)
          Files.writeString(digestFile, digest)
          refDigest = Some(digest)
      }
      val comp = rows.map(_.split('|')).map(f => f(0) -> f(1)).toMap
      val found = truth.count { case (x, y) => comp.get(x).exists(c => comp.get(y).contains(c)) }
      (found.toDouble / truth.size, rows.map(_.split('|')(3)).distinct.length.toLong)
    }

    // ---- two warm-up operations (JIT, codegen caches), one per leg; then
    // the window
    val ops = mutable.ArrayBuffer(Hi, Lo).map(op(_, traced = false))
    val nWarm = ops.length
    val kernel1 = mutable.ArrayBuffer[Double]()
    val kernel4 = mutable.ArrayBuffer[Double]()
    // the window: whole cycles alternating local[4] and local[1], as many as
    // take --seconds at a nominal 6 s per operation (a 4-vCPU host takes
    // 4-7 s), so every run does the same work and takes the same number of
    // samples whatever the host's speed. Traced runs leave every second
    // local[4] operation untraced, so the cost of tracing is measured in the
    // same window.
    val cycle = if (a.trace) Seq((Hi, true), (Lo, true), (Hi, false), (Lo, true))
                else Seq((Hi, false), (Lo, false))
    val cycles = math.max(1, math.round(a.seconds / (NominalOpS * cycle.length)).toInt)
    for (_ <- 1 to cycles; (cpus, traced) <- cycle) {
      ops += op(cpus, traced)
      // kernel control beside every local[1] leg: same window, same texts
      if (a.trace && cpus == Lo) {
        kernel1 += kernelDocsPerS(texts.take(1000), 1)
        kernel4 += kernelDocsPerS(texts.take(1000), 4)
      }
    }

    val good = ops.drop(nWarm).filter(_.completed)
    val hi = good.filter(_.cpus == Hi)
    val lo = good.filter(_.cpus == Lo)
    val runS = median(hi.map(_.wallS).toSeq)
    val scaling = median(lo.map(_.wallS).toSeq) / (4 * runS)
    val failed = ops.count(!_.ok)
    ops.filterNot(_.ok).foreach(o => System.err.println(s"failed op (local[${o.cpus}]): ${o.error.get}"))

    var extraAttempted = 0
    var extraFailed = 0
    if (!a.trace) {
      put("setup_s", median(setupTimes), "s")
      put("run_s", runS, "s")
      put("docs_per_s", a.docs / runS, "docs/s")
      put("scaling_eff_1to4", scaling, "ratio")
      put("cpu_core_s", median(hi.map(_.cpuS).toSeq), "s")
      put("peak_rss_mb", Host.peakRssMb(), "MB")
      put("peak_scratch_mb", median(hi.map(_.scratchMb).toSeq), "MB")
      put("dup_pair_recall", ops.filter(_.completed).map(_.recall).minOption.getOrElse(0.0), "ratio")
    } else {
      coreNsPerDoc(texts)
      put("core.kernel_docs_per_s_1t", median(kernel1.toSeq), "docs/s")
      put("core.kernel_docs_per_s_4t", median(kernel4.toSeq), "docs/s")
      put("core.kernel_eff_1to4", median(kernel4.toSeq) / (4 * median(kernel1.toSeq)), "ratio")
      put("pipeline.scaling_eff_1to4", scaling, "ratio")

      // per-label stage metrics: mean per traced local[4] operation
      val th = hi.filter(_.traced)
      val n = th.length.toDouble
      for (label <- StageTrace.Labels) {
        val aggs = th.flatMap(_.trace.flatMap(_.tasks.get(label)))
        put(s"$label.wall_s", th.map(_.walls(label)).sum / n, "s")
        put(s"$label.cpu_s", aggs.map(_.cpuS).sum / n, "s")
        put(s"$label.gc_s", aggs.map(_.gcS).sum / n, "s")
        put(s"$label.shuffle_write_mb", aggs.map(_.shuffleWriteMb).sum / n, "MB")
        put(s"$label.shuffle_read_mb", aggs.map(_.shuffleReadMb).sum / n, "MB")
        put(s"$label.spill_mb", aggs.map(_.spillMb).sum / n, "MB")
        put(s"$label.tasks", aggs.map(_.tasks).sum / n, "count")
      }
      val wallSum = th.map(_.wallS).sum
      val mainLabels = StageTrace.Labels.filter(_ != StageTrace.Members)
      put("trace.stage_wall_sum_ratio",
        th.map(o => mainLabels.map(o.walls).sum).sum / wallSum, "ratio")
      put("trace.driver_gap_share", th.map(_.walls(StageTrace.GapKey)).sum / wallSum, "ratio")
      put("trace.overhead_s", median(th.map(_.wallS).toSeq) -
        median(hi.filterNot(_.traced).map(_.wallS).toSeq), "s")
      put("share.bucket_checkpoint",
        th.map(_.walls("dedup.bucket_checkpoint")).sum / wallSum, "ratio")
      put("share.cc_assign", th.map(o => o.walls("cc.round1") + o.walls("cc.rounds_rest") +
        o.walls("dedup.assign_keepers")).sum / wallSum, "ratio")
      put("cc.rounds", th.flatMap(_.trace.map(_.ccRounds)).maxOption.getOrElse(0).toDouble, "count")
      put("dedup.clusters", th.map(_.clusters).maxOption.getOrElse(0L).toDouble, "count")
      put("host.steal_s", median(good.map(_.stealS).toSeq), "s")
      put("host.sys_s", median(good.map(_.sysS).toSeq), "s")
      put("run_samples", hi.length.toDouble, "count")
      put("warmup_s", ops.head.wallS, "s")

      // layer probes on this workload's own input, each on a fresh session
      val probes = Seq[SparkSession => Unit](
        s => stageCounts(s, corpus, truthEdges),
        s => checkpointProbe(s, corpus, new File(a.work, "ckpt-root")),
        s => leavesProbe(s, corpus, a.work))
      for (probe <- probes) {
        val ld = localDir()
        val spark = session(Hi, ld, a.work)
        extraAttempted += 1
        try probe(spark) catch {
          case e: Exception =>
            System.err.println(s"failed probe: $e")
            extraFailed += 1
        } finally { spark.stop(); Host.rmTree(ld) }
      }
      put("ops_failed_ratio", (failed + extraFailed).toDouble / (ops.length + extraAttempted), "ratio")
    }

    val attempted = ops.length + extraAttempted
    val nFailed = failed + extraFailed
    val metrics = out.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    Files.writeString(a.out.toPath,
      s"""{"correct": ${nFailed == 0}, "attempted": $attempted, "failed": $nFailed, "metrics": {$metrics}}""")
  }

  // ------------------------------------------------------------ core layer

  /** Single-thread ns/doc per kernel over the workload's texts; a first
    * untimed pass warms the JIT and the embedder's trigram cache.
    */
  private def coreNsPerDoc(texts: Array[String]): Unit = {
    val sh = texts.map(MinHash.shingles(_, cfg.shingleK))
    var sink = 0L
    def ns(f: Int => Long): Double = {
      texts.indices.foreach(i => sink ^= f(i))
      val (_, t) = timed(texts.indices.foreach(i => sink ^= f(i)))
      t * 1e9 / texts.length
    }
    put("core.shingles_ns_per_doc", ns(i => MinHash.shingles(texts(i), cfg.shingleK).length), "ns")
    put("core.oph_ns_per_doc",
      ns(i => if (sh(i).isEmpty) 0L else MinHash.signatureOPH(sh(i), cfg.numHashes)(0)), "ns")
    put("core.simhash128_ns_per_doc",
      ns(i => if (sh(i).isEmpty) 0L else MinHash.simHash128(sh(i))(0)), "ns")
    put("core.embed_sparse_ns_per_doc",
      ns(i => HashingEmbedder.embedSparse(texts(i)).packed.length.toLong), "ns")
    if (sink == 42L) System.err.print("")
  }

  /** The per-doc signature kernel (shingles, OPH MinHash, SimHash-128,
    * sparse embedding) over `texts` on `threads` threads, in docs/s.
    */
  private def kernelDocsPerS(texts: Array[String], threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val (_, t) = timed {
        (0 until threads).map { k =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              var acc = 0L
              var i = k
              while (i < texts.length) {
                val sh = MinHash.shingles(texts(i), cfg.shingleK)
                if (sh.nonEmpty)
                  acc ^= MinHash.signatureOPH(sh, cfg.numHashes)(0) ^ MinHash.simHash128(sh)(0)
                acc ^= HashingEmbedder.embedSparse(texts(i)).packed.length
                i += threads
              }
              acc
            }
          })
        }.foreach(_.get())
      }
      texts.length / t
    } finally pool.shutdown()
  }

  // ------------------------------------------------- pipeline stage counts

  /** Counts from the public stage functions over the exact-collapsed input
    * (the pipeline's own first step): candidates, verified edges, CC, and
    * the share of truth edges (exact cosine >= 0.90 between distinct texts)
    * that survive banding, the SimHash gates and verification.
    */
  private def stageCounts(spark: SparkSession, corpus: String,
                          truthEdges: Set[(String, String)]): Unit = {
    val reps = spark.read.parquet(corpus).groupBy(col("text"))
      .agg(min(col("url")).as("url"), min(col("warc_ts")).as("warc_ts"))
    val sigs = DedupPipeline.signatures(reps, cfg).persist()
    val cand = DedupPipeline.candidates(sigs, cfg).persist()
    val edges = DedupPipeline.verifiedEdges(sigs, cand, cfg)
      .select(col("uid_a").as("src"), col("uid_b").as("dst")).persist()
    val urlOf = sigs.select(col("uid"), col("url"))
    val edgeUrls = edges
      .join(urlOf.withColumnsRenamed(Map("uid" -> "src", "url" -> "url_a")), "src")
      .join(urlOf.withColumnsRenamed(Map("uid" -> "dst", "url" -> "url_b")), "dst")
      .select(least(col("url_a"), col("url_b")), greatest(col("url_a"), col("url_b")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val nCand = cand.count()
    val vertices = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id")))
    val comps = ConnectedComponents.run(spark, vertices, edges)
    put("dedup.candidate_pairs", nCand.toDouble, "count")
    put("dedup.verified_edges", edgeUrls.size.toDouble, "count")
    put("dedup.verify_yield", edgeUrls.size.toDouble / nCand, "ratio")
    put("dedup.true_edge_recall",
      truthEdges.count(edgeUrls.contains).toDouble / math.max(1, truthEdges.size), "ratio")
    put("cc.components", comps.select("component").distinct().count().toDouble, "count")
  }

  // ------------------------------------------------------ checkpoint layer

  /** Commits the workload's first day onto a fresh checkpoint root, then
    * times the resume path: completed-days scan, lock round trip, and a
    * sequential `runIncremental` drain that commits the second day.
    */
  private def checkpointProbe(spark: SparkSession, corpus: String, root: File): Unit = {
    Host.rmTree(root)
    val pages = spark.read.parquet(corpus).select("url", "warc_ts", "text")
      .withColumn("day", Fns.dayKey(col("warc_ts")))
    val days = pages.select("day").distinct().collect().map(_.getString(0)).sorted.take(2)
    val twoDays = pages.filter(col("day").isin(days: _*)).drop("day")
    val hash = Checkpoint.configHash(cfg)
    val r = root.getAbsolutePath
    Checkpoint.runIncremental(spark, pages.filter(col("day") === days(0)).drop("day"), r, cfg,
      lockTtlMs = 600000L)
    val (done0, tDone) = timed(Checkpoint.completedDays(spark, r, hash))
    require(done0 == Set(days(0)), s"completed days $done0, want ${days(0)}")
    val (_, tLock) = timed {
      val id = Checkpoint.acquireLock(spark, r, hash, 600000L)
      Checkpoint.releaseLock(spark, r, hash, id)
    }
    val (b0, f0) = Host.treeSize(root)
    val committed = Checkpoint.runIncremental(spark, twoDays, r, cfg, lockTtlMs = 600000L)
    val (b1, f1) = Host.treeSize(root)
    require(committed == Seq(days(1)), s"resume committed $committed, want ${days(1)}")
    val elapsedMs = spark.read.parquet(s"$r/metrics").filter(col("day") === days(1))
      .select("elapsedMs").collect().map(_.getLong(0))
    require(elapsedMs.length == 1, s"${elapsedMs.length} metrics rows for ${days(1)}")
    put("ckpt.completed_days_s", tDone, "s")
    put("ckpt.lock_s", tLock, "s")
    put("ckpt.day_elapsed_s", elapsedMs(0) / 1e3, "s")
    put("ckpt.bytes_written_mb", (b1 - b0) / 1e6, "MB")
    put("ckpt.files_written", (f1 - f0).toDouble, "count")
  }

  // ----------------------------------------------------- SparkEntry leaves

  val Leaves: Seq[String] = Seq("d_ngram_jaccard", "p_block_dedup")

  /** Runs the `documents`-table leaves over the workload's first 200 texts
    * and writes each output, the table and the leaves' DuckDB oracle SQL
    * under `work/leaves` for the wrapper's oracle comparison.
    */
  private def leavesProbe(spark: SparkSession, corpus: String, work: File): Unit = {
    import spark.implicits._
    val dir = new File(work, "leaves")
    Host.rmTree(dir)
    val data = new File(dir, "data").getAbsolutePath
    val texts = spark.read.parquet(corpus).select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).take(200)
    texts.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$data/documents.parquet")
    for (name <- Leaves) {
      val (_, t) = timed(SparkEntry.queries(name)(spark, data)
        .write.parquet(new File(dir, s"out/$name").getAbsolutePath))
      put(s"leaf.${name}_s", t, "s")
    }
    val sql = Leaves.map { n =>
      val q = SparkEntry.oracleSql(n).replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n")
      s""""$n": "$q""""
    }.mkString("{", ", ", "}")
    Files.writeString(new File(dir, "oracle_sql.json").toPath, sql)
  }
}
