package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The [[Shared]] artifact memo's key, release and re-probe rules, and the
  * warm set Bench derives from `Declared.uses`.
  */
class SharedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rddIds(ds: Dataset[_]): Seq[Int] =
    ds.queryExecution.logical.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }

  test("snapshot: a repeat (session, dir) returns the same object and does not rebuild") {
    var n = 0
    val snap = Shared.snapshot("spec_repeat") { (s, _) => n += 1; s.range(10).localCheckpoint() }
    val first = snap(spark, "d1")
    assert(snap(spark, "d1") eq first)
    assert(n == 1)
  }

  test("snapshot: a new session or a new dir rebuilds") {
    var n = 0
    val snap = Shared.snapshot("spec_rekey") { (s, _) => n += 1; s.range(10).localCheckpoint() }
    val first = snap(spark, "d1")
    val otherDir = snap(spark, "d2")
    assert(!(otherDir eq first) && n == 2)
    val otherSession = snap(spark.newSession(), "d2")
    assert(!(otherSession eq otherDir) && n == 3)
  }

  test("snapshot: a superseded entry's checkpoint RDDs are unpersisted") {
    val snap = Shared.snapshot("spec_release") { (s, _) =>
      (s.range(10).localCheckpoint(), Seq(s.range(5).localCheckpoint()))
    }
    def ids(v: (Dataset[_], Seq[Dataset[_]])) = rddIds(v._1) ++ v._2.flatMap(rddIds)
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    val old = ids(snap(spark, "d1"))
    assert(old.size == 2 && old.forall(persisted().contains))
    val cur = ids(snap(spark, "d2"))
    assert(old.forall(id => !persisted().contains(id)), s"still persisted: $old")
    assert(cur.forall(persisted().contains))
  }

  test("fixture: a failing on-disk probe rebuilds, a passing one is trusted") {
    val marker = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_shared").toFile, "ready")
    var n = 0
    val fx = Shared.fixture("spec_fixture")(_ => marker.isFile) { (_, _) =>
      n += 1; marker.createNewFile(); ()
    }
    fx(spark, "d1"); fx(spark, "d1")
    assert(n == 1)
    marker.delete() // cleaned externally
    fx(spark, "d1")
    assert(n == 2)
    fx(spark, "d2")
    assert(n == 3)
  }

  test("bench warm set: fixtures only when unfiltered, every used artifact under a probe") {
    val full = Bench.warmSet(None)
    assert(full.nonEmpty && full.forall(_.isInstanceOf[Shared.Fixture]), full)
    def probe(q: String) = Bench.warmSet(Some(Set(q))).map(_.name)
    assert(probe("q_dpp_prune") == Seq("partitioned_events", "event_class_dim"))
    assert(probe("rec_eval_mrr") == Seq("rec_eval_split"))
    assert(probe("bpe_encode") == Seq("text_bpe_merges"))
    assert(probe("q1_pricing_summary").isEmpty)
  }
}
