package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Checks the benchmark's own code, without Spark:
  *  - the same seed gives byte-identical inputs, another seed other inputs;
  *  - every metric name matches [A-Za-z0-9_.-]+ and carries a unit;
  *  - BENCHMARK.json lists exactly the workloads and metrics this code emits;
  *  - the interval and median helpers the metrics rest on.
  * Usage: perfbench.SelfTest <scratch dir> <BENCHMARK.json> */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += what

    for (name <- Workloads.all) {
      def inputs(tag: String, seed: Long): Map[String, Array[Byte]] = {
        val d = new File(dir, s"$name-$tag")
        Workloads(name).generate(d, seed)
        Files.walk(d.toPath).iterator.asScala.filter(Files.isRegularFile(_))
          .map(p => d.toPath.relativize(p).toString -> Files.readAllBytes(p)).toMap
      }
      def same(a: Map[String, Array[Byte]], b: Map[String, Array[Byte]]) =
        a.keySet == b.keySet && a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) }
      val (a, b, c) = (inputs("a", 1), inputs("b", 1), inputs("c", 2))
      expect(a.nonEmpty && a.values.forall(_.nonEmpty), s"$name: empty inputs")
      expect(same(a, b), s"$name: seed 1 twice gave different inputs")
      expect(!same(a, c), s"$name: seeds 1 and 2 gave the same inputs")
    }

    val all = Metrics.endToEnd ++ Metrics.perLayer
    all.foreach { case (n, u) =>
      expect(n.matches(Metrics.NamePattern) && n.length <= 64 && n.head.isLetterOrDigit,
        s"bad metric name '$n'")
      expect(u.matches("[A-Za-z0-9_/%.-]{1,16}"), s"metric $n: bad unit '$u'")
    }
    expect(all.map(_._1).distinct.size == all.size, "duplicate metric names")

    val bench = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(args(1)))
    def listed(key: String) = bench.get(key).elements.asScala
      .map(m => m.get("name").asText -> Option(m.get("unit")).map(_.asText).getOrElse("")).toSeq
    expect(listed("workloads").map(_._1) == Workloads.scheduled, "BENCHMARK.json workloads differ")
    expect(listed("end_to_end") == Metrics.endToEnd, "BENCHMARK.json end_to_end differs")
    expect(listed("per_layer") == Metrics.perLayer, "BENCHMARK.json per_layer differs")

    expect(Tracer.union(Seq(5L -> 15L, 0L -> 10L, 20L -> 25L)) == 20L, "interval union")
    expect(Metrics.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
    val r1 = new Rng(7); val r2 = new Rng(7)
    expect(Seq.fill(100)(r1.zipf(1000)) == Seq.fill(100)(r2.zipf(1000)), "rng determinism")
    expect(Seq.fill(10000)(r1.zipf(50)).forall(z => z >= 0 && z < 50), "zipf range")

    if (problems.isEmpty) println("self-test: ok")
    else { problems.foreach(p => println(s"self-test: FAIL $p")); sys.exit(1) }
  }
}
