package perfbench

import java.io.File

/** Entry point, started by run.py:
  * {{{
  * perfbench.Main --workload stream_backlog|stream_live|query_mix --seed N
  *   --seconds S --trace 0|1 --work DIR --data DIR --digests FILE
  * perfbench.Main --record DATA_DIR OUT_DIR
  * }}}
  * The last line of stdout is the run's result as JSON. */
object Main {
  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--record")) {
      QueryMix.record(new File(argv(1)), new File(argv(2)))
      return
    }
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("data")),
      new File(need("digests")))
    val res = new Result
    a.workload match {
      case "stream_backlog" => StreamBacklog.run(a, res)
      case "stream_live" => StreamLive.run(a, res)
      case "query_mix" => QueryMix.run(a, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(res.json)
  }
}
