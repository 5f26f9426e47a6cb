package graft

import graft.operators.Dedup

/** Hot-bucket behavior of the banded dedup operators: buckets over
  * MaxBucket must be salt-subdivided (all-pairs inside small
  * sub-buckets, star-links to the min-id representative inside
  * mega-cluster sub-buckets), never dropped. The guarantee under test
  * is the one dedup consumes: every hamming<=3 pair ends up CONNECTED
  * in the emitted pair graph (directly or through a shared
  * representative), so keep-one-per-component still collapses the
  * whole cluster.
  */
class DedupScaleSpec extends GraftSuite {

  private def words(f: Long): Array[Long] = Array(f & 0xFFFFFFFFL, f >>> 32)

  /** Connected components by union-find over (id1, id2) pairs. */
  private def components(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("simhash mega-cluster over the bucket cap star-links every member (no drop)") {
    import spark.implicits._
    val base = 0x0123456789ABCL
    // 560 identical fingerprints: every band bucket AND every sub-bucket
    // exceeds MaxBucket=500, forcing the star-link path; 3 variants sit
    // at hamming 1..3 from the cluster.
    val cluster = (0L until 560L).map(i => (i, words(base)))
    val variants = Seq(
      (560L, words(base ^ (1L << 3))),
      (561L, words(base ^ (1L << 20) ^ (1L << 50))),
      (562L, words(base ^ (1L << 7) ^ (1L << 33) ^ (1L << 58))))
    val docs = (cluster ++ variants).toDF("doc_id", "words")
    val pairs = Dedup.simhashPairsFromWords(docs, maxHamming = 3, "spec.simhash").collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSeq
    assert(pairs.nonEmpty, "over-cap buckets must still produce pairs")
    val ids = (0L until 563L).toSeq
    val comp = components(ids, pairs)
    assert(comp.values.toSet.size == 1,
      s"all hamming<=3 docs must form one component, got ${comp.values.toSet.size}")
  }

  test("simhash hot bucket splitting into small sub-buckets emits exact pairs") {
    import spark.implicits._
    // 600 docs all share band 0 (bits 0..14) -> one hot bucket; doc
    // pairs (2i, 2i+1) share the full fingerprint base | (i << 15), so
    // each pair is alone in its (band 0, sub-band 0) sub-bucket and
    // must surface via the all-pairs sub-bucket path.
    val base = 0x5ABCL
    val docs = (0L until 300L).flatMap { i =>
      val f = base | (i << 15)
      Seq((2 * i, words(f)), (2 * i + 1, words(f)))
    }.toDF("doc_id", "words")
    val got = Dedup.simhashPairsFromWords(docs, maxHamming = 3, "spec.simhash").collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    (0L until 300L).foreach { i =>
      assert(got.contains((2 * i, 2 * i + 1)),
        s"identical-fingerprint pair (${2 * i}, ${2 * i + 1}) lost in hot bucket")
    }
  }

  test("embedding mega-cluster over the bucket cap still produces near-dup pairs") {
    import spark.implicits._
    // 520 near-copies of one vector: tiny per-doc perturbation keeps
    // every hyperplane projection's sign, so ALL land in one base
    // bucket and one salt sub-bucket (> cap) -> star-link path. The
    // round-1 code dropped the bucket and returned zero rows here.
    val v0 = Array.tabulate(64)(d => math.sin(d + 1.0))
    val vecs = (0L until 520L).map { i =>
      val v = v0.clone(); v(0) += i * 1e-9; (i, v)
    }.toDF("vec_id", "emb")
    val rows = Dedup.embeddingPairsFromVecs(vecs, k = 50).collect()
    assert(rows.length == 50, s"expected k=50 star pairs, got ${rows.length}")
    assert(rows.forall(_.getAs[Long]("cosine") >= 999999L),
      "near-copies must score cosine ~1")
    assert(rows.forall(_.getAs[Long]("id1") == 0L),
      "star pairs link to the min-id representative")
  }

  test("local union-find and distributed propagation label the same graph identically") {
    import spark.implicits._
    // chains (diameter > 1), a clique, cross-links, isolated pairs,
    // and ids arriving in both orders — the shapes that distinguish
    // a wrong min-label fixpoint
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),            // chain
      (10L, 11L), (11L, 12L), (10L, 12L),                // clique
      (20L, 21L), (30L, 31L), (31L, 20L),                // merged via cross-link
      (40L, 41L),                                        // isolated pair
      (52L, 51L), (51L, 50L)                             // reversed order
    ).toDF("id1", "id2")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val local = labelsOf(Dedup.connectedComponents(pairs))
    val dist = labelsOf(Dedup.connectedComponents(pairs, localMaxEdges = -1L))
    assert(local == dist, "strategy gate must not change the labeling")
    val m = local.toMap
    assert(Seq(1L, 5L).map(m).toSet == Set(1L))
    assert(m(12L) == 10L && m(31L) == 20L && m(52L) == 50L)
  }
}
