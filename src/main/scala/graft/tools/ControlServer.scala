package graft.tools

/** Bench control-side server (round 15's load-normalized bench
  * protocol). Runs inside the PINNED control checkout
  * (`.bench-control`, a git worktree at the previous round's verdict
  * commit — see tools/setup_bench_control.sh) as a plain `java`
  * subprocess that Bench (HEAD) drives in lockstep: one command per
  * stdin line, timed against the control's own SparkEntry, result on
  * stdout. Because control and HEAD measurements of each query run
  * seconds apart in the same bench session, their ratio carries its own
  * machine-load normalization — a >1.15x HEAD/control ratio is a CODE
  * mover, a flat ratio on a slow absolute point is load (the r14 +29%
  * driver point had no way to tell the two apart).
  *
  * Protocol (stdout lines are prefixed so interleaved log noise can't
  * corrupt the channel):
  *   CTRLPROTO READY v2              — session up, accepting commands
  *   CTRLPROTO RAN <name> <secs>     — one measured run ("run <name>")
  *   CTRLPROTO WARM <name>           — one prewarm ("prewarm <name>")
  *   CTRLPROTO ABSENT <name>         — query not in this tag's registry
  *   CTRLPROTO FAILED <name>         — query threw, or an unknown command
  *                                     (logged to stderr)
  *   CTRLPROTO BYE                   — clean shutdown after "quit"
  *
  * One run per command lets Bench alternate HEAD/control per RUN, so
  * both sides of every ratio share the same seconds-wide load window (a
  * whole-block-per-side protocol let a 30–60 s load wave aligned with
  * one block ship false 4.7–6.8x code-mover flags in round 15).
  */
object ControlServer {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // never share a persisted LSH/IVF index with the HEAD JVM: reuse
    // semantics would let one side skip the build cost the other paid
    sys.props.put("graft.index.root",
      java.nio.file.Files.createTempDirectory("graft-ctrl-idx").toString)
    val spark = graft.GraftSession("graft-bench-control")
    val out = System.out

    def execute(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    out.println("CTRLPROTO READY v2"); out.flush()
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val cmd = line.trim
      if (cmd.nonEmpty) {
        cmd.split(' ') match {
          case Array(mode @ ("run" | "prewarm"), name) =>
            if (!graft.SparkEntry.queries.contains(name)) {
              out.println(s"CTRLPROTO ABSENT $name")
            } else {
              try {
                val t = execute(name)
                out.println(
                  if (mode == "run") f"CTRLPROTO RAN $name $t%.3f"
                  else s"CTRLPROTO WARM $name")
              } catch {
                case e: Throwable =>
                  System.err.println(s"[control] $name failed: ${e.getMessage}")
                  out.println(s"CTRLPROTO FAILED $name")
              }
            }
          case _ =>
            System.err.println(s"[control] unknown command: $cmd")
            out.println(s"CTRLPROTO FAILED $cmd")
        }
        out.flush()
      }
      line = in.readLine()
    }
    spark.stop()
    out.println("CTRLPROTO BYE"); out.flush()
  }
}
