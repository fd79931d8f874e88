package graft

/** [[GraftConf]] — the consolidated `spark.graft.*` knob registry
  * (round-13 advice #6): defaults resolve, set values override, and a
  * TYPO'D key fails loudly at the next knob read instead of silently
  * leaving the default in force (the worst failure mode a
  * physical-strategy gate can have).
  */
class GraftConfSpec extends SparkSpec {
  import spark.implicits._

  test("recognized knobs: default resolves, set value overrides") {
    assert(GraftConf.long(spark, GraftConf.ComponentsLocalEdges) == 8000000L)
    assert(GraftConf.long(spark, GraftConf.QuantizerBroadcastCells) == 131072L)
    assert(GraftConf.string(spark, GraftConf.Checkpoint) == "local")
    spark.conf.set("spark.graft.components.localEdges", "42")
    try assert(GraftConf.long(spark, GraftConf.ComponentsLocalEdges) == 42L)
    finally spark.conf.unset("spark.graft.components.localEdges")
  }

  test("a misspelled spark.graft.* key fails loudly, naming the known knobs") {
    spark.conf.set("spark.graft.compnents.localEdges", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        GraftConf.long(spark, GraftConf.ComponentsLocalEdges)
      }
      assert(e.getMessage.contains("spark.graft.compnents.localEdges"))
      assert(e.getMessage.contains("spark.graft.components.localEdges"))
    } finally spark.conf.unset("spark.graft.compnents.localEdges")
  }

  test("the retired per-family gcSweepEvery keys fail loudly, naming the known knobs") {
    for (fam <- Seq("ann", "dedup", "lex")) {
      val key = s"spark.graft.$fam.gcSweepEvery"
      spark.conf.set(key, "1")
      try {
        val e = intercept[IllegalArgumentException](GraftConf.validate(spark))
        assert(e.getMessage.contains(key))
        GraftConf.All.foreach(k => assert(e.getMessage.contains(k.key), k.key))
      } finally spark.conf.unset(key)
    }
  }

  test("the typo guard fires from a real operator's knob read") {
    // wrong CASE in the last segment — the classic silent-no-op typo;
    // the union-find gate's read must abort the job, not fall back
    spark.conf.set("spark.graft.components.localedges", "0")
    try intercept[IllegalArgumentException] {
      operators.Propagation.minLabel(
        Seq((1L, 2L), (2L, 1L)).toDF("a", "b"), "vec_id").collect()
    } finally spark.conf.unset("spark.graft.components.localedges")
  }

  test("every registry knob has a distinct key, a parseable default and docs") {
    val keys = GraftConf.All.map(_.key)
    assert(keys.distinct == keys)
    assert(GraftConf.All.forall(_.key.startsWith("spark.graft.")))
    GraftConf.All.filterNot(_ == GraftConf.Checkpoint)
      .foreach(k => assert(k.default.toLong >= 0, k.key))
    assert(GraftConf.All.forall(k => k.what.nonEmpty && k.unit.nonEmpty))
  }
}
