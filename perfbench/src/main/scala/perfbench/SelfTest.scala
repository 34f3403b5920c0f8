package perfbench

import java.io.File
import java.nio.file.Files

/** Self-test of the harness at tiny size: statistics, generator
  * determinism, and one short traced and one untraced run of every
  * workload with its correctness gate.
  */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"# selftest ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def bytes(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().sortBy(_.getName).map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  def run(dir: File, cores: Int): Int = {
    expect(Stats.quantile((1 to 10).map(_.toDouble), 0.5) == 5.5 &&
      Stats.quantile(Seq(3.0), 0.9) == 3.0, "quantiles interpolate")
    expect(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L,
      "interval union")

    val sizes = Sizes.tiny(2)
    Seq[(String, (File, Long) => Unit)](
      "stream" -> ((d, s) => Gen.stream(d, s, sizes.stream)),
      "index" -> ((d, s) => Gen.index(d, s, sizes.index))).foreach {
      case (name, gen) =>
        val (a, b, c) = (new File(dir, s"gen-$name-a"),
          new File(dir, s"gen-$name-b"), new File(dir, s"gen-$name-c"))
        gen(a, 7L); gen(b, 7L); gen(c, 8L)
        expect(bytes(a) == bytes(b), s"$name inputs are byte-identical " +
          "for one seed")
        expect(bytes(a) != bytes(c), s"$name inputs differ across seeds")
    }

    for (w <- Main.Workloads; trace <- Seq(true, false)) {
      val line = Main.runOne(w, 11L, 2, trace,
        new File(dir, s"run-$w-$trace"), new File(dir, "out"), cores,
        tiny = true)
      println(line)
      val names = (if (trace) Layers.PerLayer else Main.EndToEnd).map(_._1)
      expect(line.startsWith("{\"correct\": true") &&
        names.forall(n => line.contains(Json.str(n))),
        s"$w trace=$trace passes its gate and reports every metric")
    }
    println(s"# selftest ${if (failures == 0) "passed" else
      s"$failures failure(s)"}")
    if (failures == 0) 0 else 1
  }
}
