package pipebench

/** Pure helpers: percentiles, and the mapping from micro-batch progress to
  * per-event commit times. Kept free of Spark so the specs can pin them on
  * hand-built inputs. */
object Stats {

  /** Samples that must lie beyond a reported tail percentile. */
  val MinBeyond = 10

  /** Nearest-rank value at fraction `p` of sorted `xs`. */
  def at(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "no samples")
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = at(xs.sorted.toIndexedSeq, 0.5)

  /** The highest percentile up to `maxP` that still has at least
    * [[MinBeyond]] samples above its rank. Returns (fraction, value). With
    * 200 or more samples this is the plain p95; with fewer it steps down
    * instead of reporting a tail made of a handful of points, and it needs
    * enough samples to stay above the median. */
  def tail(xs: Seq[Double], maxP: Double = 0.95): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    require(n > 2 * MinBeyond, s"need more than ${2 * MinBeyond} samples for a tail, got $n")
    val idx = math.min(math.ceil(maxP * n).toInt - 1, n - 1 - MinBeyond)
    ((idx + 1).toDouble / n, s(idx))
  }

  /** One finished micro-batch of one query: rows it read and the wall time
    * (epoch ms) at which its commit was written. */
  final case class Batch(numInputRows: Long, commitMs: Long)

  /** Commit time of each input row. The file source hands out files oldest
    * first and whole, so the rows of consecutive batches are consecutive
    * in write order: row k (0-based, in write order) was committed by the
    * first batch whose cumulative row count exceeds k. Batches that read
    * nothing are skipped. Fails when the batches did not read exactly
    * `totalRows` rows. */
  def commitTimes(batches: Seq[Batch], totalRows: Int): Array[Long] = {
    val out = new Array[Long](totalRows)
    var k = 0
    batches.filter(_.numInputRows > 0).foreach { b =>
      val end = k + b.numInputRows
      require(end <= totalRows,
        s"batches read $end rows, more than the $totalRows written")
      while (k < end) { out(k) = b.commitMs; k += 1 }
    }
    require(k == totalRows, s"batches read $k rows of the $totalRows written")
    out
  }

  /** Per-event latency for an event that must reach several queries: the
    * later of its commits, minus the time it was due. */
  def latencies(dueMs: Array[Long], commits: Seq[Array[Long]]): Array[Double] =
    dueMs.indices.map(i => (commits.map(_(i)).max - dueMs(i)).toDouble).toArray
}
