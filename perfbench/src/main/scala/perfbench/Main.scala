package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (perfbench/run.py is the front end).
  *
  * One run is a closed loop with one client at `local[4]`: the next
  * operation starts only when the previous one has finished. The run
  * protocol is in [[Harness]], the workloads in [[TiersWorkload]] and
  * [[ReefWorkload]].
  *
  * Arguments are `--key value` pairs; the front end builds them. The run
  * prints its result as one line `PERFBENCH <json>` on stdout and exits
  * non-zero when a membership, output or leak check fails.
  */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def list(k: String): Seq[String] =
      m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Args =
    new Args(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)

  val cpus = 4

  /** Seconds since the JVM started (for progress lines on stderr). */
  def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def newSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the registry compiles far more than the default 100 generated
      // classes; size the cache so warm passes reuse them (as Bench does)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Thrown for a failed check; the run prints no result and exits 2. */
  final class CheckFailed(msg: String) extends RuntimeException(msg)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code =
      try {
        val out = args("out")
        new java.io.File(s"$out/results").mkdirs()
        val workload = args("workload") match {
          case "tiers" => new TiersWorkload(args("corpus"), out, args.list("rows"),
            args.list("order"), args.list("builds").toSet)
          case "reef-ml" => new ReefWorkload(args("csv"), args("vocab"),
            args("surveys").toLong)
          case w => throw new IllegalArgumentException(s"unknown --workload $w")
        }
        val result = new Harness(args("seconds").toDouble,
          args("trace") == "1", s"$out/spans.json").run(workload)
        println("PERFBENCH " + Json.encode(result))
        0
      } catch {
        case e: CheckFailed =>
          System.err.println(s"[perfbench] check failed: ${e.getMessage}")
          2
      } finally SparkSession.getActiveSession.foreach(_.stop())
    System.out.flush()
    sys.exit(code)
  }
}

/** Minimal JSON encoder for the result line (maps, sequences, numbers,
  * strings and booleans). */
object Json {
  def encode(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
