package graft

import graft.core.ZSetFrame
import graft.incremental.TfIdfState
import graft.queries.CdcReplay

/** The shared CDC replay of the screened family: the script's epochs carry
  * their Z-set weights, and the driver releases everything it was handed
  * when a step fails. */
class CdcReplaySpec extends SparkSpec {
  import spark.implicits._

  test("CDC epochs carry weights: a duplicated source row replays at 2, the retraction at −1") {
    // doc 3 is present twice; docs 3 and 13 fall in the doc_id % 10 == 3
    // retraction residue of the Full script
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c"), (13L, "d"))
      .toDF("doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Int, Set[(Long, String, Long)]]
    CdcReplay.epochs(rows, CdcReplay.Full) { (i, d) =>
      assert(d.df.columns.toSeq == Seq("doc_id", "text", ZSetFrame.W))
      got(i) = d.df.as[(Long, String, Long)].collect().toSet
    }
    assert(got.keys.toSeq.sorted == Seq(0, 1, 2, 3, 4))
    assert(got(0).isEmpty)
    assert(got(1) == Set((1L, "a", 1L), (13L, "d", 1L)))
    assert(got(2) == Set((2L, "b", 1L)))
    assert(got(3) == Set((3L, "c", 2L)), "duplicate rows must not collapse")
    assert(got(4) == Set((3L, "c", -2L), (13L, "d", -1L)))
  }

  test("a replay whose step throws still closes the state and the slicer") {
    val rows = Seq((1L, "x", 1L), (1L, "y", 2L), (2L, "x", 1L), (3L, "z", 1L),
      (5L, "y", 1L)).toDF("doc_id", "term", "tf")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // snapshots at every step hold strong references, so the context
    // cleaner cannot release a leaked RDD before the check below sees it
    val held = scala.collection.mutable.Buffer(sc.getPersistentRDDs)
    val st = new TfIdfState(ZSetFrame.fromTable(rows.where("false")), 4)
    val e = intercept[IllegalStateException] {
      CdcReplay.run(CdcReplay.epochs(rows, CdcReplay.Full), "doc_id")(
          st.close()) { (i, d) =>
        held += sc.getPersistentRDDs
        if (i == 2) throw new IllegalStateException("planted failure at slice 2")
        val out = st.step(d)
        held += sc.getPersistentRDDs
        out
      }
    }
    assert(e.getMessage == "planted failure at slice 2")
    val pinned = held.flatMap(_.keySet).toSet -- before
    // non-vacuous: the state, slicer and step outputs were pinned
    assert(pinned.nonEmpty, "nothing pinned during the replay")
    val left = sc.getPersistentRDDs.keySet.intersect(pinned)
    assert(left.isEmpty, s"replay leaked pinned RDDs $left")
  }
}
