package graft.perfbench

import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Ground truth and the scores that compare a result against it. Crawl
  * truth is exact shingle Jaccard over every pair of pages that shares
  * at least one shingle (an inverted index, so no pair with Jaccard > 0
  * is skipped), computed on the driver without any LSH code.
  */
object Truth {

  /** Union-find over ids; `label` is the smallest id of the component. */
  final class Components {
    private val parent = mutable.HashMap.empty[Long, Long]
    def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    def labels: Map[Long, Long] = parent.keys.map(k => k -> find(k)).toMap
  }

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Page id -> truth cluster label: connected components of the pairs
    * whose word-shingle Jaccard is at least `threshold`, over the same
    * shingle hashes the pipeline uses (k-word shingles of the
    * normalized text).
    */
  def crawlClusters(pages: Seq[(Long, String)], k: Int, threshold: Double): Map[Long, Long] = {
    val ids = pages.map(_._1).toArray
    val sh = pages.map(p => graft.sim.HashKernels.shingleHashesWords(
      UTF8String.fromString(p._2), k)).toArray
    val postings = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    sh.indices.foreach(i => sh(i).foreach(h =>
      postings.getOrElseUpdate(h, mutable.ArrayBuffer.empty[Int]) += i))
    val cc = new Components
    ids.foreach(cc.add)
    val tried = mutable.HashSet.empty[Long]
    postings.valuesIterator.filter(_.size > 1).foreach { p =>
      var x = 0
      while (x < p.size) {
        var y = x + 1
        while (y < p.size) {
          val (a, b) = (p(x), p(y))
          val key = math.min(a, b).toLong * Int.MaxValue + math.max(a, b)
          if (tried.add(key) && jaccard(sh(a), sh(b)) >= threshold) cc.union(ids(a), ids(b))
          y += 1
        }
        x += 1
      }
    }
    cc.labels
  }

  /** Pair-level agreement of two clusterings over the same ids: the
    * pairs placed together by `got` and by `want`.
    *
    * @return (pairs together in both, pairs together in got, pairs
    *         together in want)
    */
  def pairCounts(got: Map[Long, Long], want: Map[Long, Long]): (Long, Long, Long) = {
    def pairs(sizes: Iterable[Int]): Long = sizes.iterator.map(s => s.toLong * (s - 1) / 2).sum
    val both = got.toSeq.groupBy { case (id, c) => (c, want.getOrElse(id, -1L - id)) }
      .values.map(_.size)
    (pairs(both), pairs(got.values.groupBy(identity).values.map(_.size)),
      pairs(want.values.groupBy(identity).values.map(_.size)))
  }

  /** The partition itself, independent of how cluster ids are named:
    * each id mapped to the smallest id in its cluster.
    */
  def canonical(labels: Map[Long, Long]): Map[Long, Long] = {
    val minOf = labels.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    labels.map { case (id, c) => id -> minOf(c) }
  }
}
