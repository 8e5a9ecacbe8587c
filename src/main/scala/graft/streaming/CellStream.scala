package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming admission twin of q339's incremental semantic-cell
  * maintenance (VERDICT r13 #5): live vectors admit against the FROZEN
  * cell-partitioned dedup store as they arrive, completing the
  * control-plane picture — [[DedupStream]] covers exact-hash live
  * admission, [[CellStream]] covers the semantic path.
  *
  * The split follows q339's frozen/appendable discipline exactly:
  *   - the k cell CENTROIDS are frozen functions of the stored corpus —
  *     they ship as a collected k×dim argument captured at query start
  *     (the LookStream preregistered-calendar discipline: a live stream
  *     takes the frozen artifacts as ARGUMENTS; the batch backtest
  *     derives them);
  *   - the per-cell MEMBER lists live in `flatMapGroupsWithState` state
  *     keyed by cell id, seeded by replaying the store through the same
  *     stream (kind = 'seed' rows precede kind = 'live' rows — the
  *     standard bootstrap-then-tail pattern), so the store never needs
  *     a driver-side collect.
  *
  * Each live vector cell-assigns map-side against the broadcast
  * centroids (KMeans.assign's exact (d², cluster) lexicographic argmin,
  * d² spelled (n² + cn²) − 2·dot so the doubles are bit-identical to
  * the batch plan), then verifies against its cell's seeded members
  * (cosine ≥ t, q50/q99's threshold) and emits one admission row —
  * match count, deterministic best match (max cos, ties to the
  * smallest stored id — q339's max-struct), 6-dp-snapped best cosine.
  * CellStreamSpec proves the replayed embedding log reproduces q339's
  * registered batch output row for row.
  *
  * `admitLive = true` switches from the q339 backtest contract
  * (verify-against-store-only) to live-store mode: a NON-dup live
  * vector joins its cell's member state and participates in later
  * verifications — the store grows under admission, the q153/q339
  * append discipline applied continuously.
  *
  * Scale shape: state per cell is the member list — bounded by cell
  * size, which adaptiveK keeps constant as the corpus grows (the q101
  * argument), so state scales with k·cellSize = O(N) across ALL cells
  * but each group's work is |batch ∩ cell| × cellSize, linear per
  * batch. No timeouts: the store does not expire (GC is q340's batch
  * compaction, replayed as a re-seed). No global funnel: work spreads
  * across k cell keys, and within a batch Spark pre-groups rows per
  * cell before the state lookup. */
object CellStream {

  final case class VecIn(kind: String, vec_id: Long, embedding: Array[Float])
  final case class Routed(cell: Long, kind: String, vec_id: Long,
      embedding: Array[Float], n2: Double)
  final case class Member(id: Long, emb: Array[Float], n2: Double)
  final case class CellMembers(members: List[Member])
  final case class Admission(vec_id: Long, cell: Long, n_b1_dups: Long,
      best_b1_match: Long, best_cos: Double, is_dup: Boolean)

  /** DotProductD's exact left fold (sequential double accumulation). */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  private def dotFC(a: Array[Float], c: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * c(i); i += 1 }
    acc
  }
  private def selfDot(c: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }

  /** Admission stream over a frame with (kind: 'seed'|'live', vec_id,
    * embedding array&lt;float&gt;). `centroids` is the frozen (cell id,
    * centroid) codebook — k rows, collected from the store at query
    * start. Emits one [[Admission]] row per live vector. */
  def admissions(vecs: DataFrame, centroids: Seq[(Long, Array[Double])],
      t: Double, admitLive: Boolean = false): Dataset[Admission] = {
    require(centroids.nonEmpty, "frozen centroid codebook is empty")
    val spark = vecs.sparkSession
    import spark.implicits._
    // capture (cell, centroid, cn2) once; serialized into the closure —
    // the broadcast-at-query-start of a k-row frozen artifact
    val cb = centroids.map { case (c, v) => (c, v, selfDot(v)) }.toArray

    vecs.select(col("kind"), col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      .as[VecIn]
      .map { v =>
        val n2 = dot(v.embedding, v.embedding)
        // KMeans.assign's argmin: min (d2, cluster) lexicographically
        var bestC = -1L; var bestD = Double.MaxValue
        cb.foreach { case (c, cent, cn2) =>
          val d2 = (n2 + cn2) - 2.0 * dotFC(v.embedding, cent)
          if (d2 < bestD || (d2 == bestD && c < bestC)) {
            bestD = d2; bestC = c
          }
        }
        Routed(bestC, v.kind, v.vec_id, v.embedding, n2)
      }
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CellMembers, Admission](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (cell, rows, state: GroupState[CellMembers]) =>
          val (seeds, lives) = rows.toVector.partition(_.kind == "seed")
          var members = state.getOption.map(_.members).getOrElse(Nil)
          // seeds first: a store row and a live row landing in the same
          // micro-batch must still verify store-before-live
          seeds.foreach { s =>
            members = Member(s.vec_id, s.embedding, s.n2) :: members
          }
          val out = lives.sortBy(_.vec_id).map { v =>
            var n = 0L; var bestId = -1L; var bestCos = 0.0; var seen = false
            members.foreach { m =>
              val cos = dot(m.emb, v.embedding) /
                (math.sqrt(m.n2) * math.sqrt(v.n2))
              if (cos >= t) {
                n += 1
                if (!seen || cos > bestCos ||
                    (cos == bestCos && m.id < bestId)) {
                  bestCos = cos; bestId = m.id; seen = true
                }
              }
            }
            if (admitLive && n == 0L)
              members = Member(v.vec_id, v.embedding, v.n2) :: members
            Admission(v.vec_id, cell, n, bestId,
              if (seen) AdmissionStream.snap(bestCos, 6) + 0.0 else 0.0,
              n > 0L)
          }
          if (members.nonEmpty) state.update(CellMembers(members))
          out.iterator
      }
  }
}
