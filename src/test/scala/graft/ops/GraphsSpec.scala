package graft.ops

import graft.SparkTestBase

/** Differential tests for the graph family (q67/q68): the Spark
  * results must equal a plain-Scala reference computation over the
  * SAME collected edge list — exact integer equality, no tolerance,
  * since both sides are pure 64-bit arithmetic. */
class GraphsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private lazy val edgeList: Seq[(Long, Long)] =
    Graphs.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private lazy val adj: Map[Long, Seq[Long]] = {
    val sym = edgeList.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    sym.groupMap(_._1)(_._2)
  }

  test("q67 pagerank equals a plain-Scala fixed-round integer PageRank") {
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> Graphs.PrMass).toMap
    (1 to Graphs.PrIters).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      adj.foreach { case (src, dsts) =>
        val c = r(src) / deg(src) // both positive: / == div == //
        dsts.foreach(d => contrib(d) += c)
      }
      r = deg.keys.map(n => n -> (150000L + 85L * contrib(n) / 100L)).toMap
    }
    val got = Graphs.pagerank(spark, dir).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
    assert(got.length == r.size)
    got.foreach { case (node, rank, degree) =>
      assert(rank == r(node), s"rank mismatch at node $node")
      assert(degree == deg(node))
    }
    // ordering contract: rank desc, id asc
    assert(got.sortBy(t => (-t._2, t._1)).toSeq == got.toSeq)
  }

  test("q68 triangles equals a plain-Scala neighborhood-intersection count") {
    val nbr = adj.view.mapValues(_.toSet).toMap
    // each triangle counted 3 times as (edge, common neighbor), then /3
    val tri3 = edgeList.iterator
      .map { case (a, b) => (nbr(a) & nbr(b)).size.toLong }.sum
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val row = Graphs.triangles(spark, dir).collect().head
    assert(row.getLong(0) == deg.size) // n_nodes
    assert(row.getLong(1) == edgeList.size) // n_edges
    assert(row.getLong(2) == tri3 / 3, "triangle count")
    assert(row.getLong(3) == wedges)
    assert(row.getLong(4) == 3000L * (tri3 / 3) / wedges)
  }

  test("q87 kcore equals a plain-Scala fixed-round peel") {
    var live: Map[Long, Seq[Long]] = adj
    (1 to Graphs.CoreRounds).foreach { _ =>
      val keep = live.collect {
        case (n, ds) if ds.size >= Graphs.CoreK => n
      }.toSet
      live = live.collect {
        case (n, ds) if keep(n) =>
          n -> ds.filter(keep)
      }.filter(_._2.nonEmpty)
    }
    val expect = live.view.mapValues(_.size.toLong).toMap
    val got = Graphs.kcore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("q87 kcore peels a crafted graph in sequential waves") {
    // The co-purchase graph never peels (min degree 38 ≥ CoreK at
    // sf0.1), so the data-driven test above exercises only the
    // fixpoint exit. This graph drives the delta-degree arithmetic
    // through its corner cases: a K4 core that survives, a first
    // wave dropping {7, 8} (degree 2), whose removed edges decrement
    // 5 and 6 below CoreK for a SECOND wave — including edge (5,6)
    // with BOTH endpoints dropped — and node 4 decremented 4→3,
    // surviving exactly at the threshold; round 3 hits the empty-drop
    // fixpoint with a round to spare.
    val crafted: Seq[(Long, Long)] = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L), (5L, 8L), (6L, 8L))
    // plain-Scala fixed-round peel, same loop as the data-driven test
    var live: Map[Long, Seq[Long]] = crafted
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    (1 to Graphs.CoreRounds).foreach { _ =>
      val keep = live.collect {
        case (n, ds) if ds.size >= Graphs.CoreK => n
      }.toSet
      live = live.collect {
        case (n, ds) if keep(n) => n -> ds.filter(keep)
      }.filter(_._2.nonEmpty)
    }
    val expect = live.view.mapValues(_.size.toLong).toMap
    assert(expect === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "fixture must peel down to the K4 core — crafted graph broken")
    import spark.implicits._
    val got = Graphs.kcoreOf(crafted.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("q88 bfs hops equals a plain-Scala Bellman-Ford relax") {
    var d: Map[Long, Long] = adj.keys
      .filter(_ % Graphs.SeedMod == 0).map(_ -> 0L).toMap
    (1 to Graphs.BfsRounds).foreach { _ =>
      val relaxed = d.toSeq.flatMap { case (n, h) =>
        adj(n).map(_ -> (h + 1)) } ++ d.toSeq
      d = relaxed.groupMapReduce(_._1)(_._2)(math.min)
    }
    val got = Graphs.bfsHops(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === d)
    // seeds are at hop 0; every hop h>0 node has a neighbor at h-1
    got.foreach { case (n, h) =>
      if (h == 0) assert(n % Graphs.SeedMod == 0)
      else assert(adj(n).exists(m => got.get(m).contains(h - 1)),
        s"node $n at hop $h lacks a parent")
    }
  }

  test("q156: negatives are real non-edges, k-deep, hash-ordered per node") {
    val out = Graphs.negativeSampling(spark, dir).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neg"), r.getAs[Long]("score")))
    // true adjacency from the public edge frame
    val e = Graphs.edges(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(out.nonEmpty)
    val byU = out.groupBy(_._1)
    assert(byU.size === Graphs.NegQueryNodes)
    byU.foreach { case (u, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to Graphs.NegPerNode))
      // scores strictly follow rank order (ties broken by v upstream)
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
      rows.foreach { case (_, _, v, _) =>
        assert(v !== u)
        assert(!e.contains((math.min(u, v), math.max(u, v))),
          s"sampled pair ($u, $v) is a real edge")
      }
    }
  }

  test("q183: assortativity matches a plain-Scala moment replay over directed edges") {
    val out = Graphs.assortativity(spark, dir).collect()
    assert(out.length === 1)
    val e = Graphs.edges(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = adj.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val xy = adj.map { case (s, d) => (BigInt(deg(s)), BigInt(deg(d))) }
    val n = BigInt(xy.length)
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map { case (x, y) => x * y }.sum
    val sxx = xy.map { case (x, _) => x * x }.sum
    val syy = xy.map { case (_, y) => y * y }.sum
    val num = n * sxy - sx * sy
    val dx = n * sxx - sx * sx; val dy = n * syy - sy * sy
    val r = out.head
    assert(r.getAs[Long]("n_edges") === xy.length.toLong)
    // centered moments are BIGINT by declared contract (the internal
    // arithmetic is DECIMAL(38,0); the output cast throws loudly past
    // int64 — see the scaladoc's declared-bound note)
    assert(num.isValidLong && dx.isValidLong && dy.isValidLong,
      s"fixture moments outgrew int64: num=$num den_x=$dx den_y=$dy")
    assert(r.getAs[Long]("num") === num.toLong)
    assert(r.getAs[Long]("den_x") === dx.toLong)
    assert(r.getAs[Long]("den_y") === dy.toLong)
    // symmetric edge list ⇒ den_x = den_y and |r| ≤ 1
    assert(dx === dy)
    assert(r.getAs[Long]("assort_milli") ===
      math.round(1000.0 * num.toDouble / math.sqrt(dx.toDouble * dy.toDouble)))
    assert(math.abs(r.getAs[Long]("assort_milli")) <= 1000L)
  }

  test("q177: seeded rank matches a plain-Scala PPR replay; mass is seed-derived") {
    val out = Graphs.personalizedPagerank(spark, dir).collect()
    assert(out.nonEmpty)
    import org.apache.spark.sql.functions._
    val e = Graphs.edges(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = adj.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val urgent = graft.Tables.lineitem(spark, dir)
      .join(graft.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      .select("l_partkey").distinct().collect()
      .map(_.getAs[Long]("l_partkey")).toSet
    val sm = deg.keys.map(n =>
      n -> (if (urgent(n)) 1000000L else 0L)).toMap
    var r = sm
    (1 to Graphs.PrIters).foreach { _ =>
      val flow = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> 85L * es.map { case (src, _) => r(src) / deg(src) }.sum / 100L
      }
      r = sm.map { case (n, m) => n -> (15L * m / 100L + flow.getOrElse(n, 0L)) }
    }
    val expected = r.filter(_._2 > 0).toSeq
      .map { case (n, rp) => (n, rp, if (urgent(n)) 1L else 0L, deg(n)) }
      .sortBy { case (n, rp, _, _) => (-rp, n) }
    val got = out.map(x => (x.getAs[Long]("part_id"), x.getAs[Long]("rank_ppm"),
      x.getAs[Long]("is_seed"), x.getAs[Long]("degree"))).toSeq
    assert(got === expected)
    assert(got.exists(_._3 === 1L), "seeds must carry rank")
    // non-seed mass appears only via propagation; at this SF integer
    // truncation may zero it out, so assert the implication, not
    // existence: any positive non-seed rank must equal pure flow
    got.filter(_._3 === 0L).foreach { case (n, rp, _, _) =>
      assert(rp > 0L && sm(n) === 0L)
    }
  }

  test("q167: authorities match a plain-Scala HITS replay on the bipartite graph") {
    val out = Graphs.hits(spark, dir).collect()
    assert(out.nonEmpty)
    // rebuild the capped customer→part incidence directly
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val cp = li.join(graft.Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust")), "ok")
      .select("cust", "pk").distinct().collect()
      .map(r => (r.getAs[Long]("cust"), r.getAs[Long]("pk")))
    // (the sf0.001 baskets are all under the cap — q67's spec relies
    // on the same fact, and the skew counter in Verify would be loud)
    val byCust = cp.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val byPart = cp.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var a = byPart.keySet.map(p => p -> 1000000L).toMap
    (1 to Graphs.HitsIters).foreach { _ =>
      val hraw = byCust.map { case (c, ps) => c -> ps.map(a).sum }
      val hm = hraw.values.max
      val h = hraw.map { case (c, v) =>
        c -> (BigInt(v) * 1000000 / hm).toLong }
      val araw = byPart.map { case (p, cs) => p -> cs.map(h).sum }
      val am = araw.values.max
      a = araw.map { case (p, v) => p -> (BigInt(v) * 1000000 / am).toLong }
    }
    assert(out.length === byPart.size)
    out.foreach { r =>
      val p = r.getAs[Long]("part_id")
      assert(r.getAs[Long]("auth_ppm") === a(p), s"part $p")
      assert(r.getAs[Long]("n_customers") === byPart(p).length)
    }
    // max-normalization: at least one part sits at exactly 1e6
    assert(out.map(_.getAs[Long]("auth_ppm")).max === 1000000L)
  }
}
