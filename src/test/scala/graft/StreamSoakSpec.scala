package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.StreamSoak

/** Pins the kill-and-restore compare-horizon rule (r14 verdict-1): the
  * safe bound is the two runs' COMMITTED WATERMARK frontiers — the
  * guarantee surface of the event-time-timeout emission path — minus
  * gap + slack, never a max-emitted-ts heuristic (which overshoots at
  * saturation, where the pair path runs ahead of the watermark by the
  * whole restart backlog). Also pins the families-argument parse. */
class StreamSoakSpec extends AnyFunSuite {

  test("safeHorizon bounds by the SLOWER run's committed watermark") {
    val gap = graft.operators.Sessions.GapMs
    // restored run's frontier lags: bound must follow IT, not the ref
    assert(StreamSoak.safeHorizon(Some(5000000L), Some(3000000L), gap) ===
      Some(3000000L - gap - StreamSoak.HorizonSlackMs))
    // symmetric: a lagging ref bounds equally
    assert(StreamSoak.safeHorizon(Some(3000000L), Some(5000000L), gap) ===
      Some(3000000L - gap - StreamSoak.HorizonSlackMs))
  }

  test("safeHorizon is undefined when either run committed no watermark") {
    assert(StreamSoak.safeHorizon(None, Some(1L), 10L).isEmpty)
    assert(StreamSoak.safeHorizon(Some(1L), None, 10L).isEmpty)
    assert(StreamSoak.safeHorizon(None, None, 10L).isEmpty)
  }

  test("parseWatermark: ISO instant to ms; epoch (never advanced) and junk are None") {
    assert(StreamSoak.parseWatermark("2023-11-14T22:13:20.000Z") ===
      Some(1700000000000L))
    assert(StreamSoak.parseWatermark("1970-01-01T00:00:00.000Z").isEmpty)
    assert(StreamSoak.parseWatermark("not-a-timestamp").isEmpty)
    assert(StreamSoak.parseWatermark(null).isEmpty)
  }

  test("parseFamilies: known names parse, an unknown name fails naming the valid ones") {
    assert(StreamSoak.parseFamilies("cep,rocksdb") === Set("cep", "rocksdb"))
    assert(StreamSoak.parseFamilies("restore_top") === Set("restore_top"))
    // a removed family or a typo must not silently run nothing
    for (bad <- Seq("headroom", "cep,rocksbd", "")) {
      val e = intercept[IllegalArgumentException](StreamSoak.parseFamilies(bad))
      StreamSoak.Families.foreach(f => assert(e.getMessage.contains(f)))
    }
  }
}
