package graft

import graft.tools.Profile
import org.apache.spark.sql.GraftListenerProbe

class ProfileSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("Profile: stages, phases and rows per query; no listener left") {
    val queries = Seq("v_shapes_all", "uniq_lineitem")
    val out = Seq.newBuilder[Profile.Record]
    Profile.run(spark, queries, Seq(dir), reps = 1, plans = None)(out += _)
    val recs = out.result()
    assert(recs.map(_.query) == queries)
    for (r <- recs; rep <- r.reps) {
      assert(rep.stages.exists(_.tasks > 0), s"${r.query}: no stage ran")
      assert(Seq("analysis", "optimization", "planning")
        .forall(rep.phasesMs.contains),
        s"${r.query}: phases ${rep.phasesMs}")
      assert(rep.rows == SparkEntry.queries(r.query)(spark, dir).count())
    }
    val ids = recs.map(_.reps.flatMap(_.stages.map(_.id)).toSet)
    assert(ids(0).intersect(ids(1)).isEmpty, s"stages shared: $ids")
    val left = GraftListenerProbe.sparkListeners(spark) ++
      GraftListenerProbe.queryListeners(spark)
    assert(!left.exists(_.getClass.getName.startsWith("graft.tools.Profile")),
      s"listeners left: $left")
  }
}
