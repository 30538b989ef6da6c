package graft

/** `Bench`'s per-entry layers: a rerun of the same entries on the same
  * data runs the same jobs, stages and tasks, and compiles nothing.
  */
class BenchLayersSpec extends SparkSpec {

  test("two rounds of two entries: equal job, stage and task counts; no warm compile") {
    // both entries build their input in memory (one of them a durable
    // store under its own temporary paths), so no data directory is read
    val names = Seq("ext_html_text", "ext_image_anim_incr")
    val runs = Bench.timeEntries(spark, tmpDir("layers"),
      names.map(n => n -> SparkEntry.queries(n)), repeat = 2)
    assert(runs.map(_.name) == names ++ names.map(_ + "__r2"))
    assert(!runs.exists(_.failed))
    val (cold, warm) = runs.splitAt(names.size)
    cold.zip(warm).foreach { case (c, w) =>
      assert(c.layers.jobs > 0 && c.layers.stages > 0 && c.layers.tasks > 0,
        s"${c.name}: ${c.layers}")
      assert((w.layers.jobs, w.layers.stages, w.layers.tasks) ==
        ((c.layers.jobs, c.layers.stages, c.layers.tasks)),
        s"${c.name}: ${c.layers} then ${w.layers}")
      assert(w.layers.compiles == 0, s"${w.name} recompiled: ${w.layers}")
    }
  }
}
