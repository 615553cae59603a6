package graft

import graft.streaming.FeedSource

/** The shared small feed the composed-pipeline specs replay. */
object FeedFixture {

  /** 40 users × 50 events each, 2 sessions per user (a >30 min gap
    * mid-stream), plus a late no-op tail that pushes the watermark far
    * enough to close every second session. User u starts
    * `u × staggerMin` minutes after the first, so a stagger spreads the
    * session closes over more micro-batches. Appended to `feedDir` in two
    * partitions; returns the record count. */
  def seedFeed(feedDir: String, staggerMin: Long = 0L): Long = {
    val base = java.sql.Timestamp.valueOf("2024-01-01 08:00:00").getTime
    val parts = 2
    val recs = (0 until 40).flatMap { u =>
      (0 until 50).map { i =>
        // 25 events spaced 1 min, then a 2 h gap, then 25 more
        val ts = base + u * staggerMin * 60000L + (if (i < 25) i * 60000L
          else 2 * 3600000L + i * 60000L)
        (ts, u.toLong, i.toLong, if (i % 7 == 0) "purchase" else "click")
      }
    } :+ ((base + 12 * 3600000L, 999L, 9999L, "view"))
    // per-partition buffers in ts order (the sessionizer's documented
    // per-user arrival assumption)
    recs.sortBy(r => (r._1, r._3)).groupBy(r => (r._2 % parts).toInt)
      .toSeq.sortBy(_._1)
      .foreach { case (p, rs) =>
        FeedSource.append(feedDir, p, rs.map(r =>
          (r._1, r._2.toString, s"${r._2 * 1000 + r._3},${r._4},1.5")))
      }
    recs.size.toLong
  }
}
