package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def files(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Reference k-core by sequential peeling of the undirected simple graph
    * (self-loops and repeats dropped): node -> degree inside the core. */
  def kCore(edges: Array[(String, String)], k: Int): Map[String, Long] = {
    val adj = mutable.HashMap.empty[String, mutable.HashSet[String]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.HashSet.empty) += b
        adj.getOrElseUpdate(b, mutable.HashSet.empty) += a
      }
    }
    val deg = mutable.HashMap.empty[String, Int] ++= adj.view.mapValues(_.size)
    val queue = mutable.Queue.from(deg.collect { case (v, d) if d < k => v })
    val gone = mutable.HashSet.empty[String]
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (gone.add(v)) adj(v).foreach { u =>
        if (!gone.contains(u)) {
          deg(u) -= 1
          if (deg(u) == k - 1) queue += u
        }
      }
    }
    deg.iterator.filter { case (v, _) => !gone.contains(v) }.map { case (v, d) => v -> d.toLong }.toMap
  }
}
