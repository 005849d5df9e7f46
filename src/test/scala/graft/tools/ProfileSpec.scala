package graft.tools

import graft.SparkSpec

class ProfileSpec extends SparkSpec {

  /** The committed benchmark corpus and its reference digests. */
  private val dataDir = new java.io.File("perfbench/data/sf0.01").getAbsolutePath
  private def reference: Map[String, (Long, Long)] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/ref/query-suite.json")), "UTF-8")
    """"([^"]+)":\s*\[\s*(-?\d+)\s*,\s*"(-?\d+)"\s*\]""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  test("per-query phases, job counts and digests over the benchmark corpus") {
    val planDir = java.nio.file.Files.createTempDirectory("profile_plans").toFile
    val records = scala.collection.mutable.ArrayBuffer[Profile.Record]()
    val failed = Profile.run(spark, dataDir, Seq("q89", "nope", "q18", "q45"), reps = 1,
      planDir = Some(planDir))(records += _)
    // the unknown name is listed; the queries around it still ran
    assert(failed === Seq("nope"))
    val byQuery = records.map(r => r.query -> r).toMap
    assert(byQuery.keySet === Set("q18_debezium_roundtrip", "q45_dedup_resolve", "q89_pq_adc"))

    val ref = reference
    byQuery.values.foreach { r =>
      assert((r.rows, r.hash) === ref(r.query), r.query)
      assert(r.rep === 1)
      assert(Seq(r.buildMs, r.planMs, r.execMs).forall(_ >= 0.0), r.json)
      // no query leaves data in the storage pool
      assert(r.cachedMbLeft === 0.0, r.json)
      // the consuming aggregate is one job; stages and tasks cover the query
      assert(r.jobsExec >= 1 && r.stages >= r.jobsBuild + r.jobsExec && r.tasks >= r.stages,
        r.json)
      val plan = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(planDir, s"${r.query}_plan.txt").toPath), "UTF-8")
      assert(plan.contains("Physical Plan"), r.query)
    }
    // the eager jobs at build: the parquet footer read that infers each
    // input table's schema, q89's product-quantizer training rounds, and
    // q45's near-dup pair plan run once for the bounded collect
    assert(byQuery("q18_debezium_roundtrip").jobsBuild === 1)
    assert(byQuery("q89_pq_adc").jobsBuild === 4)
    assert(byQuery("q45_dedup_resolve").jobsBuild === 8)
    assert(byQuery("q18_debezium_roundtrip").json.contains(
      s""""rows":120,"hash":"${ref("q18_debezium_roundtrip")._2}"}"""))
  }
}
