package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The bench never records a failed gate as a timing: a gate that
  * throws goes through the same timing and A/B helpers as a working
  * one and comes out under `failed`, outside every total. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bench-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a throwing gate is recorded as failed, with its error, outside the totals") {
    val meter = new TaskTimeMeter(spark.sparkContext)
    def okRep(): Bench.Timing =
      Bench.timed(meter)(spark.range(0, 100000, 1, 4).selectExpr("sum(id)")
        .write.format("noop").mode("overwrite").save())
    def badRep(): Bench.Timing =
      Bench.timed(meter)(throw new IllegalStateException("planted \"gate\" failure\nplan line"))
    assert(badRep().swap.exists(_.getMessage.startsWith("planted")))

    var between = 0
    val ok = Bench.abGate("ok_gate", 2, okRep(), okRep(), () => between += 1)
    assert(ok.isRight && between == 2)
    // fails in rep 1, and in a later rep after a good first one
    val bad = Bench.abGate("bad_gate", 2, badRep(), okRep(), () => ())
    var reps = 0
    val late = Bench.abGate("late_gate", 3, okRep(), { reps += 1; if (reps == 2) badRep() else okRep() }, () => ())
    assert(bad.isLeft && late.isLeft)
    assert(reps == 2, "no rep runs after the failing one")

    val (full, line) = Bench.records(Seq(ok.toOption.get),
      Seq("bad_gate" -> Bench.errorText(bad.swap.toOption.get),
        "late_gate" -> Bench.errorText(late.swap.toOption.get)), "sf")
    val failed = """"failed":{"bad_gate":"IllegalStateException: planted \"gate\" failure",""" +
      """"late_gate":"IllegalStateException: planted \"gate\" failure"}"""
    val g = ok.toOption.get
    for (rec <- Seq(full, line)) {
      assert(rec.contains(failed), rec)
      assert(rec.contains(""""value":""" + "%.2f".formatLocal(java.util.Locale.ROOT, g.wall) + ","), rec)
      assert(rec.contains(""""task_total":""" + "%.2f".formatLocal(java.util.Locale.ROOT, g.task) + ","), rec)
      for (n <- Seq("bad_gate", "late_gate"))
        assert(n.r.findAllIn(rec).size == 1, s"$n appears only under `failed`: $rec")
    }
    assert(line.contains(""""queries":{"ok_gate":["""))
  }
}
