package graft.perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Paths}

/** Entry point of the benchmark harness; `perfbench/run.py` starts it.
  *
  *  - `run --spec F --data D --work W --workload N --seed S --seconds T
  *     --trace 0|1 --fingerprints P --trace-out O`: one run; the last
  *     stdout line is the result object;
  *  - `fingerprints --spec F --data D --work W --out P`: compute the
  *     committed per-query fingerprints of every listed query;
  *  - `selftest`: the harness's own tests.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val o = args.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(
        s"bad arguments: ${a.mkString(" ")}")
    }.toMap
    def arg(k: String) = o.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    mode match {
      case "selftest" => SelfTest.run()
      case "fingerprints" =>
        val spec = Spec.load(arg("spec"))
        val fps = spec.workloads.flatMap(_.queries).distinct.sorted
        val run = new Run(Workload("fingerprints", fps,
          spec.workloads.flatMap(_.layouts).distinct, None), 0L, 0.0,
          traced = false, arg("data"), arg("work"), Map.empty)
        val got = run.fingerprintAll()
        JFiles.writeString(Paths.get(arg("out")), got.map {
          case (q, f) => s"""  "$q": "$f""""
        }.mkString("{\n", ",\n", "\n}\n"))
      case "run" =>
        val spec = Spec.load(arg("spec"))
        val run = new Run(spec.workload(arg("workload")),
          arg("seed").toLong, arg("seconds").toDouble,
          arg("trace") == "1", arg("data"), arg("work"),
          Spec.fingerprints(arg("fingerprints")))
        val result = run.execute()
        if (arg("trace") == "1") {
          val out = new File(arg("trace-out"))
          out.getParentFile.mkdirs()
          JFiles.writeString(out.toPath,
            run.traceLines.mkString("", "\n", "\n"))
        }
        println(result.json)
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (run, fingerprints, selftest)")
    }
  }
}
