package graft

class ExplainSpec extends SparkSpec {

  test("summary runs the gate's own plan and reads its final adaptive plan") {
    // the flagship gate (q01, weekly compound returns): a grouped
    // aggregate, so its plan has a shuffle exchange under AQE
    val (_, line) = Explain.summary(spark)(SparkEntry.entry(spark))
    assert(line.startsWith("final=true "), line)
    val counts = raw"(\w+)=(\d+)".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    Seq("exchanges", "jobs", "stages", "tasks").foreach { k =>
      assert(counts(k) > 0, s"$k in: $line")
    }
  }
}
