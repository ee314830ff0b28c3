package graft.geom

import scala.collection.mutable.ArrayBuffer

/** Ring assembly ("shared-arc merge"): merges way segments (sequences of
  * node ids) into maximal chains / closed rings by repeatedly gluing
  * end-to-start, end-to-end (reversed append) and start-to-start (reversed
  * prepend), dropping empty segments, until a fixpoint.
  *
  * Semantics match the reference `simplify.Reduce`
  * (/root/reference/simplify/simplify.go:9-75) including its iteration
  * order, so the merged output is deterministic given input order. The
  * reference's unit table (simplify/simplify_test.go:8-155) is replicated
  * in RingAssemblySpec.
  *
  * This is per-relation local work (a relation has at most a few thousand
  * member ways), so in the Spark pipeline it runs inside the per-relation
  * assembly after `Ingest.polygons`' one `relId` aggregation — no
  * distributed fixpoint needed.
  */
object RingAssembly {

  def reduce(input: Seq[Seq[Long]]): Seq[Seq[Long]] = {
    val in = ArrayBuffer.from(input.map(ArrayBuffer.from(_)))
    var repeat = true
    while (repeat) {
      repeat = false
      var i = 0
      while (i < in.length && !repeat) {
        val line = in(i)
        if (line.isEmpty) {
          in.remove(i)
          repeat = true
        } else {
          val start = line.head
          val end = line.last
          var j = 0
          while (j < in.length && !repeat) {
            val line2 = in(j)
            if (line2.nonEmpty && i != j) {
              val start2 = line2.head
              val end2 = line2.last
              if (end == start2) {
                line ++= line2.view.drop(1)
                in.remove(j)
                repeat = true
              } else if (end2 == end) {
                val rev = line2.reverse
                line ++= rev.view.drop(1)
                in.remove(j)
                repeat = true
              } else if (start2 == start) {
                val rev = line2.reverse
                in(i) = rev.dropRight(1) ++ line
                in.remove(j)
                repeat = true
              }
            }
            j += 1
          }
        }
        i += 1
      }
    }
    in.map(_.toSeq).toSeq
  }
}
