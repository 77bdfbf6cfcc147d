package graft

import java.sql.Timestamp

import graft.operators.OlapExtras

class StreamJoinSpec extends SparkSpec {

  test("q_stream_join equals the view-to-purchase pairs computed in plain Scala") {
    def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    val evs = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), us(r.getTimestamp(3))))
    val views = evs.filter(_._3 == "view")
    val purchases = evs.filter(_._3 == "purchase")
    val expected = (for {
      (viewId, viewUser, _, viewUs) <- views
      (purchaseId, purchaseUser, _, purchaseUs) <- purchases
      if viewUser == purchaseUser
      gap = purchaseUs - viewUs
      if gap >= 0 && gap <= 1800L * 1000000L
    } yield (viewId, purchaseId)).toSet

    val got = OlapExtras.qStreamJoin(spark, sfDir)
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"key=${got.size} scala=${expected.size} " +
        s"onlyKey=${(got -- expected).size} onlyScala=${(expected -- got).size}")
    assert(expected.nonEmpty)
  }
}
