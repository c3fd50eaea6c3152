package graftbench

import org.apache.spark.sql.SparkSession

/** Per-change benchmark of the graft column store: one process, one
  * closed-loop client, the workloads `ingest`, `scan` and `lookup` (see
  * perfbench/README.md). Prints human-readable lines, then as its last line
  * one JSON object {correct, attempted, failed, metrics}; `--trace 0` gives
  * the end-to-end metrics, `--trace 1` the per-layer ones.
  */
object Main {
  /** Every workload reports every metric below, under these units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "size_vs_reference" -> "ratio")

  /** Per-layer metrics; a layer a workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] =
    CodecProbe.Kinds.flatMap(k => Seq(
      s"codec.encode_mb_per_s.$k" -> "MB/s", s"codec.decode_mb_per_s.$k" -> "MB/s",
      s"codec.ratio.$k" -> "ratio", s"codec.selected.$k" -> "codec_id")) ++ Seq(
      "store.append_ms" -> "ms", "store.plan_units_ms" -> "ms",
      "store.chunks_decoded_per_op" -> "count", "store.chunks_filter_skipped_per_op" -> "count",
      "store.bytes_per_token" -> "B/token",
      "fsio.wchar_per_token" -> "B/token", "fsio.files_created_per_append" -> "count",
      "fsio.rchar_per_op" -> "B/op",
      "mutate.compact_ms" -> "ms", "mutate.vacuum_ms" -> "ms",
      "mutate.bytes_rewritten_per_live_byte" -> "B/B",
      "index.refresh_ms" -> "ms", "index.delta_gens" -> "count",
      "index.consult_ms" -> "ms", "index.hits_per_op" -> "count",
      "sources.plan_ms" -> "ms", "sources.exec_ms" -> "ms",
      "sources.jobs_per_op" -> "count", "sources.tasks_per_op" -> "count",
      "sources.fresh_lookup_p50_ms" -> "ms",
      "api.gather_ms" -> "ms",
      "spark.task_cpu_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
      "spark.shuffle_bytes_per_op" -> "B/op", "spark.encode_scaling_1v4" -> "ratio") ++
      Trace.Layers.map(l => s"self.${l}_ms_per_op" -> "ms") ++ Seq(
      "trace.overhead_pct" -> "%", "trace.spans_per_op" -> "count")

  def session(cores: Int, workDir: String): SparkSession = {
    val dir = new java.io.File(workDir).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = opt("workload")
    val run: Ctx => Result = workload match {
      case "ingest" => Ingest.run
      case "scan" => Scan.run
      case "lookup" => Lookup.run
      case other => System.err.println(s"unknown workload '$other'"); sys.exit(2)
    }
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val workDir = opt("work-dir")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, workDir)
    val master = spark.sparkContext.master
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val sparkVersion = spark.version
    val contention = new Contention(cpus)
    val ctx = new Ctx(spark, workload, seed, opt("seconds").toInt, traced,
      opts.get("scale").contains("tiny"), opts.get("corrupt-oracle").contains("1"), workDir)
    val res =
      try run(ctx)
      catch { case e: Throwable =>
        System.err.println(s"workload $workload aborted: $e")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
      }
    val (steal, ext) = contention.finish()
    val noisy = steal > 0.02 || ext > 0.10

    val (wanted, got) = if (traced) (PerLayer, res.layers) else (EndToEnd, res.e2e)
    val byName = got.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- wanted.map(_._1)
    require(unknown.isEmpty, s"metrics not declared in Main: ${unknown.mkString(", ")}")
    val metrics = wanted.map { case (name, unit) =>
      val m = byName.getOrElse(name, Metric(name, 0.0, unit))
      require(m.unit == unit, s"$name reported in ${m.unit}, declared in $unit")
      if (m.value.isNaN || m.value.isInfinite) {
        ctx.failed += 1
        ctx.failures += s"metric $name is not a number"
        m.copy(value = 0.0)
      } else m
    }
    opts.get("trace-out").filter(_ => traced).foreach(ctx.trace.write)

    val env = Seq(
      "workload" -> json(workload), "seed" -> seed.toString, "seconds" -> ctx.seconds.toString,
      "trace" -> traced.toString, "nproc" -> cpus.toString, "master" -> json(master),
      "driver_max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "shuffle_partitions" -> shufflePartitions, "store_fs" -> json(Proc.filesystemOf(workDir)),
      "commit" -> json(opts.getOrElse("commit", "unknown")),
      "source_digest" -> json(opts.getOrElse("source-digest", "unknown")),
      "java" -> json(System.getProperty("java.version")), "spark" -> json(sparkVersion),
      "steal_share" -> f"$steal%.4f", "other_busy_share" -> f"$ext%.4f", "noisy" -> noisy.toString)
    println("env " + env.map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}"))
    if (noisy) System.err.println(f"warning: noisy run (steal $steal%.3f, other processes $ext%.3f)")
    res.named.foreach(m => println(f"workload_metric ${m.name} = ${m.value}%.6g ${m.unit}"))
    val errorRate = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    println(f"workload_metric error_rate = $errorRate%.6g ratio")
    metrics.foreach { m =>
      val note = if (m.name.startsWith("codec.selected.")) s" (${CodecProbe.codecName(m.value)})" else ""
      println(f"metric ${m.name} = ${m.value}%.6g ${m.unit}$note")
    }
    ctx.failures.take(20).foreach(f => println(s"failure $f"))
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val body = metrics.map(m =>
      json(m.name) + ":{\"value\":" + m.value.toString + ",\"unit\":" + json(m.unit) + "}")
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":${body.mkString("{", ",", "}")}}""")
    if (!ctx.spark.sparkContext.isStopped) ctx.spark.stop()
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
