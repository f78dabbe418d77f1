package graft.load

/** A deletion vector for ONE data file: the sorted set of hidden
  * `_metadata.row_index` positions, RUN-LENGTH encoded (r17, VERDICT
  * r16 #3). The r16 representation was the raw index list — integer
  * CSV in the manifest, an `InSet` in the plan, a `Seq[Long]` on the
  * driver — which capped a batch's vector at 100k rows before the
  * physical-rewrite fallback kicked in. A GDPR takedown sweeping a
  * compacted table hides MILLIONS of rows, and deleted keys cluster
  * (a user's rows sit together in a sorted/Z-ordered file), so runs
  * compress them to near nothing: memory, manifest bytes and plan
  * size are all O(runs), never O(rows). The plan-side membership test
  * is [[graft.functions.DvHidden]] — one lookup of the row's file, then
  * a binary search over that file's run starts.
  *
  * Runs are `(start, len)`, sorted by start, non-overlapping,
  * non-adjacent (merge normalizes). Delta manifest encoding
  * ([[DvVector.encode]]): `start+len` tokens where each start after
  * the first is the GAP from the previous run's END — small numbers
  * for clustered deletes.
  */
final case class DvVector(runs: Vector[(Long, Long)]) {
  def isEmpty: Boolean = runs.isEmpty
  def nonEmpty: Boolean = runs.nonEmpty
  def runCount: Int = runs.length

  /** Total hidden rows. */
  def cardinality: Long = {
    var s = 0L
    var i = 0
    while (i < runs.length) { s += runs(i)._2; i += 1 }
    s
  }

  /** Is `ri` hidden? Binary search over run starts. */
  def contains(ri: Long): Boolean = {
    var lo = 0
    var hi = runs.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (s, l) = runs(mid)
      if (ri < s) hi = mid - 1
      else if (ri >= s + l) lo = mid + 1
      else return true
    }
    false
  }

  /** Set union with `other` — normalized (sorted, coalesced). */
  def merge(other: DvVector): DvVector =
    if (other.isEmpty) this
    else if (isEmpty) other
    else DvVector.fromRuns(runs ++ other.runs)

  /** Materialize every hidden index — O(cardinality), test/report use
    * only; production paths stay on the runs. */
  def toRows: Seq[Long] =
    runs.flatMap { case (s, l) => s until (s + l) }

  /** The run starts / exclusive ends as primitive arrays — the shape
    * [[graft.functions.DvHidden]] carries into the plan. */
  def startsEnds: (Array[Long], Array[Long]) = {
    val st = new Array[Long](runs.length)
    val en = new Array[Long](runs.length)
    var i = 0
    while (i < runs.length) {
      st(i) = runs(i)._1; en(i) = runs(i)._1 + runs(i)._2; i += 1
    }
    (st, en)
  }

  /** Delta-RLE text: `s0+l0,g1+l1,…` — first token's position is
    * absolute, every later token's is the gap from the previous run's
    * exclusive end. Decoded by [[DvVector.decodeInto]]. */
  def encode: String = encodeChunks(Int.MaxValue).mkString(",")

  /** [[encode]] split into chunks of at most `chunkRuns` runs — one
    * manifest line each; the delta continues ACROSS chunks, so they
    * must be emitted and re-read in order. */
  def encodeChunks(chunkRuns: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var prevEnd = 0L
    var first = true
    runs.grouped(chunkRuns).foreach { chunk =>
      val sb = new StringBuilder
      chunk.foreach { case (s, l) =>
        if (sb.nonEmpty) sb.append(',')
        sb.append(if (first) s else s - prevEnd).append('+').append(l)
        prevEnd = s + l
        first = false
      }
      out += sb.toString
    }
    out.result()
  }
}

object DvVector {
  val empty: DvVector = DvVector(Vector.empty)

  /** Normalize arbitrary `(start, len)` pairs: sort, drop empties,
    * coalesce overlapping/adjacent runs. */
  def fromRuns(rs: Seq[(Long, Long)]): DvVector = {
    val sorted = rs.filter(_._2 > 0).sortBy(_._1)
    if (sorted.isEmpty) return empty
    val out = Vector.newBuilder[(Long, Long)]
    var (cs, cl) = sorted.head
    for ((s, l) <- sorted.tail) {
      if (s <= cs + cl) { // overlap or adjacency: extend
        val end = math.max(cs + cl, s + l)
        cl = end - cs
      } else {
        out += ((cs, cl)); cs = s; cl = l
      }
    }
    out += ((cs, cl))
    DvVector(out.result())
  }

  /** Build from raw row indexes (the probe's collect) — duplicates
    * collapse, consecutive indexes fuse into one run. */
  def fromRows(rows: Iterable[Long]): DvVector = {
    val sorted = rows.toArray
    java.util.Arrays.sort(sorted)
    if (sorted.isEmpty) return empty
    val out = Vector.newBuilder[(Long, Long)]
    var cs = sorted(0)
    var cl = 1L
    var i = 1
    while (i < sorted.length) {
      val v = sorted(i)
      if (v == cs + cl) cl += 1
      else if (v > cs + cl) { out += ((cs, cl)); cs = v; cl = 1L }
      // v within the current run (duplicate): skip
      i += 1
    }
    out += ((cs, cl))
    DvVector(out.result())
  }

  /** Decode one [[DvVector.encode]] chunk CONTINUING from `prevEnd`
    * (manifest lines are chunked; the caller threads the running end
    * across a rel's lines in file order). Returns (runs, newPrevEnd);
    * malformed tokens are skipped (conservative: a dropped run only
    * UNHIDES — readers treat the manifest author as the authority and
    * the author never writes malformed lines; this guards hand-edits
    * from crashing the reader). */
  def decodeInto(chunk: String, prevEnd: Long,
                 first: Boolean): (Vector[(Long, Long)], Long) = {
    val out = Vector.newBuilder[(Long, Long)]
    var pe = prevEnd
    var fst = first
    chunk.split(",").foreach { tok =>
      val plus = tok.indexOf('+')
      if (plus > 0) {
        (tok.substring(0, plus).toLongOption,
          tok.substring(plus + 1).toLongOption) match {
          case (Some(d), Some(l)) if l > 0 =>
            val s = if (fst) d else pe + d
            out += ((s, l))
            pe = s + l
            fst = false
          case _ => ()
        }
      }
    }
    (out.result(), pe)
  }
}
