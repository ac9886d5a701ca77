package graftbench

import org.apache.spark.sql.Row

/** Tests of the harness's own helpers. Run: python3 graftbench/run.py --self-test */
object HelpersTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val ds = (n: Int) => (1 to n).map(_.toDouble)

    // percentile rule: a tail percentile needs ten samples beyond it
    check("p90 of 100 samples is the 90th")(Stats.tailPercentile(ds(100), 0.9).contains(90.0))
    check("p90 of 99 samples is withheld")(Stats.tailPercentile(ds(99), 0.9).isEmpty)
    check("p50 of 20 samples has ten beyond it")(Stats.tailPercentile(ds(20), 0.5).contains(10.0))
    check("p50 of 19 samples is withheld")(Stats.tailPercentile(ds(19), 0.5).isEmpty)
    check("p99 needs 1000 samples")(
      Stats.tailPercentile(ds(999), 0.99).isEmpty && Stats.tailPercentile(ds(1000), 0.99).contains(990.0))
    check("percentile ignores input order")(
      Stats.tailPercentile(ds(200).reverse, 0.9) == Stats.tailPercentile(ds(200), 0.9))
    check("median of odd and even samples")(
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // job-interval union behind sources.driver_ms
    check("union merges overlapping, touching and nested intervals")(
      Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (15.0, 20.0), (30.0, 40.0), (32.0, 35.0))) == 30.0)
    check("union drops empty and inverted intervals")(
      Stats.unionLength(Seq((5.0, 5.0), (9.0, 3.0), (1.0, 2.0))) == 1.0)
    check("clip cuts intervals to the window")(
      Stats.unionLength(Stats.clip(Seq((-5.0, 5.0), (8.0, 20.0), (30.0, 40.0)), 0.0, 10.0)) == 7.0)
    val op = OpRec(1, "lookup_key", "lookup_key k=1", "call", 0.0, 100.0, 100.0, ok = true)
    def job(a: Double, b: Double) = { val j = new JobRec("op-1", a); j.endMs = b; j }
    val l = Layers.reduce(Attributed(op, Seq(job(10, 30), job(20, 50), job(90, 120)), Nil, Nil))
    check("driver_ms is wall time minus the jobs' union inside the op")(l.driverMs == 50.0)
    check("job_ms is the jobs' union")(l.jobMs == 70.0 && l.jobs == 3)
    val inside = Layers.reduce(Attributed(op, Seq(job(10, 30), job(20, 50)), Nil, Nil))
    check("driver_ms plus job_ms is the wall time when jobs fall inside the op")(
      inside.driverMs + inside.jobMs == op.ms)

    // fingerprint order-insensitivity
    val rows = Seq(Row(1L, "a", 2.5), Row(2L, null, Seq(1, 2)), Row(1L, "a", 2.5), Row(3L, "c", Map("k" -> 1.0)))
    val fp = Stats.fingerprint(rows)
    check("fingerprint ignores row order")(
      fp == Stats.fingerprint(rows.reverse) && fp == Stats.fingerprint(Seq(rows(3), rows(0), rows(2), rows(1))))
    check("fingerprint counts duplicate rows")(fp != Stats.fingerprint(rows.distinct))
    check("fingerprint sees a changed value")(fp != Stats.fingerprint(rows.updated(0, Row(1L, "a", 2.25))))
    check("fingerprint sees values moved between rows")(
      Stats.fingerprint(Seq(Row(1, 2), Row(3, 4))) != Stats.fingerprint(Seq(Row(1, 4), Row(3, 2))))

    // the mor_cdc live-row model
    val m = new LiveModel
    m.put(0L until 10L, 0)
    check("model counts and sums appended rows")(m.full == ((10L, 11.25, 9L, 0L)))
    check("deleteMod removes matching ids only")(m.deleteMod(3, 0) == 4 && m.liveIds.toSeq == Seq(1L, 2L, 4L, 5L, 7L, 8L))
    m.put(Seq(1L, 20L), 5)
    check("upsert replaces grp of live ids and inserts new ones")(
      m.full == ((7L, 0.25 * (1 + 2 + 4 + 5 + 7 + 8 + 20), 20L, 10L)))
    check("range reads are half-open")(m.range(2, 8) == ((4L, 0.25 * (2 + 4 + 5 + 7), 0L)) && m.range(20, 21) == ((1L, 5.0, 5L)))
    check("an empty range reads zero")(m.range(100, 200) == ((0L, 0.0, 0L)))

    println(s"${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
