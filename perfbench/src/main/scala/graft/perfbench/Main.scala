package graft.perfbench

/** Harness entry: `Main <mode> <args.json>`; perfbench/run.py writes the
  * arguments and reads the result file. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = Json.read(args(1))
    Trace.on = a.get("trace").contains(true)
    args(0) match {
      case "oracles" => Suite.dumpOracles(a)
      case "prepare" => Suite.prepare(a)
      case "query" => QueryLayer.run(a)
      case "stream" => Stream.run(a)
      case m => sys.error(s"unknown mode $m")
    }
    // the HTTP server's handler pool is not daemon and outlives its server
    sys.exit(0)
  }
}
