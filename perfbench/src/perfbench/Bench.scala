package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.GraftSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
}

/** One benchmark run of one workload in one JVM: set-up (session, seeded
  * input, warm-up), then a closed loop of timed units, one engine call in
  * flight at a time, until `--seconds` have passed (at least one unit).
  * Writes the raw per-unit results as JSON to `--out`; `run.py` turns them
  * into the reported metrics.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --out FILE [--tiny] [--corrupt] [--tables DIR] [--pre-setup-cpu-s X]
  * [--golden JSON_FILE]
  */
object Bench {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val t0 = System.nanoTime()
    val c0 = Store.cpuS
    val flags = argv.toSeq
    def opt(k: String): Option[String] = flags.sliding(2).collectFirst { case Seq(`k`, v) => v }
    val workload = opt("--workload").getOrElse(sys.error("--workload is required"))
    val seed = opt("--seed").map(_.toLong).getOrElse(0L)
    val seconds = opt("--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = opt("--trace").contains("1")
    val work = opt("--work").getOrElse(sys.error("--work is required"))
    val out = opt("--out").getOrElse(sys.error("--out is required"))
    val preSetupCpu = opt("--pre-setup-cpu-s").map(_.toDouble).getOrElse(0.0)
    val tiny = flags.contains("--tiny")
    // the golden values are for the full-size inputs
    val golden = opt("--golden").filter(p => !tiny && Files.exists(Paths.get(p)))
      .map(p => goldenFor(Files.readString(Paths.get(p)), workload, seed)).getOrElse(Map.empty)
    val cores = Runtime.getRuntime.availableProcessors()

    // the CLI's session for the store workloads, the Bench/Verify session
    // for the query pass
    val spark =
      if (workload == "queries") GraftSession.plain(cores, "perfbench")
      else GraftSession.get(cores, "perfbench")
    val tracer = new Tracer(trace, s"$workload-$seed")
    val probe = if (trace) Some(new EngineProbe(spark, cores)) else None
    probe.foreach(_.attach())
    val ctx = Ctx(spark, seed, work, cores, tiny, flags.contains("--corrupt"), tracer, probe,
      golden)
    val w: Workload = workload match {
      case "dedup" => new Dedup(ctx)
      case "queries" => new Queries(ctx, opt("--tables").getOrElse(sys.error("--tables is required")))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the input is prepared three times and the median counted.
    // Set-up time is CPU seconds of this JVM (plus the table generator's):
    // wall time on a shared host also counts the CPU time other tenants take.
    val sessionCpu = Store.cpuS - c0
    val t1 = System.nanoTime()
    val prep = (1 to 3).map { _ =>
      val c = Store.cpuS
      w.prepareInput()
      Store.cpuS - c
    }.sorted
    val t2 = System.nanoTime()
    val c1 = Store.cpuS
    w.warmUp()
    val docs = w.inputDocs
    val warmCpu = Store.cpuS - c1
    val setupS = preSetupCpu + sessionCpu + prep(1) + warmCpu
    val t3 = System.nanoTime()
    System.err.println(f"[perfbench] setup_s=$setupS%.3f (cpu) pre=$preSetupCpu%.3f " +
      f"session=$sessionCpu%.3f prep=${prep.map(p => f"$p%.3f").mkString("/")} " +
      f"warm-up=$warmCpu%.3f setup_wall_s=${(t3 - t0) / 1e9}%.3f (session/prep/warm-up " +
      f"${(t1 - t0) / 1e9}%.1f/${(t2 - t1) / 1e9}%.1f/${(t3 - t2) / 1e9}%.1f)")

    val outcomes = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    val tm = System.nanoTime()
    while (outcomes.isEmpty || (System.nanoTime() - tm) / 1e9 < seconds) {
      val i = outcomes.size + 1
      outcomes += (try tracer.span(s"unit $i")(w.unit(i))
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] unit $i threw: $e")
        e.printStackTrace()
        Outcome.failed(s"threw: $e")
      })
      val o = outcomes.last
      System.err.println(s"[perfbench] unit $i wall=${o.wallS} net_wall=${o.netWallS} cpu=${o.cpuS} " +
        s"ok=${o.ok} ${o.note}")
    }
    if (trace) {
      Files.createDirectories(Paths.get(s"$work/trace"))
      tracer.write(s"$work/trace/spans-$workload-$seed.jsonl")
    }

    // per-layer numbers: median over the units that passed
    val good = outcomes.filter(_.ok)
    val layerNames = good.flatMap(_.layer.keys).distinct.sorted
    val layer = layerNames.map { k =>
      k -> median(good.flatMap(_.layer.get(k)).toSeq)
    } ++ (if (good.isEmpty) Nil else Seq(
      "trace.wall_s" -> median(good.map(_.wallS).toSeq),
      "trace.cpu_s" -> median(good.map(_.cpuS).toSeq)))
    val units = outcomes.map { o =>
      s"""{"wall_s": ${Json.num(o.wallS)}, "net_wall_s": ${Json.num(o.netWallS)}, """ +
        s""""cpu_s": ${Json.num(o.cpuS)}, "ok": ${o.ok}, """ +
        s""""recall": ${Json.num(o.recall)}, """ +
        s""""store_ratio": ${Json.num(o.storeRatio)}, "note": ${Json.str(o.note)}}"""
    }
    val json =
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, "setup_s": ${Json.num(setupS)}, """ +
        s""""session_s": ${Json.num(sessionCpu)}, "prep_s": [${prep.mkString(", ")}], """ +
        s""""input_docs": $docs, "cores": $cores, "units": [${units.mkString(", ")}], """ +
        s""""layer": {${layer.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")}}}"""
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** golden.json: {"<workload>": {"<seed>": "<cluster fingerprint>"}} */
  private def goldenFor(text: String, workload: String, seed: Long): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(text) \ workload \ seed.toString match {
      case JString(fp) => Map(workload -> fp)
      case _ => Map.empty
    }
  }
}
