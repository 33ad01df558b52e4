package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.model.INF
import graft.operators.GraphOps

/** ScalaCheck properties for the graph surface (SURVEY.md §5.2#3) on
  * random graphs, checked against an in-driver Dijkstra oracle.
  */
object GraphProps extends Properties("graph") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case runs a full Spark SSSP loop

  private lazy val spark = TestSpark.spark

  private val genGraph: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(1, 90)
    edges <- Gen.listOfN(
      m,
      for {
        s <- Gen.choose(0, n - 1)
        d <- Gen.choose(0, n - 1)
        w <- Gen.choose(1, 9)
      } yield (s.toLong, d.toLong, w.toDouble))
  } yield edges

  private def dijkstra(edges: Seq[(Long, Long, Double)], src: Long): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = collection.mutable.Map[Long, Double](src -> 0.0)
    val pq = collection.mutable.PriorityQueue((0.0, src))(Ordering.by(-_._1))
    val done = collection.mutable.Set[Long]()
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!done(u)) {
        done += u
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Double.MaxValue)) {
            dist(v) = d + w
            pq.enqueue((d + w, v))
          }
        }
      }
    }
    dist.toMap
  }

  /** Core numbers by the sequential min-degree peel (Matula–Beck) over
    * the undirected simple graph: remove a node of least remaining
    * degree; its core number is the largest such degree seen so far.
    */
  private def sequentialCoreness(edges: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val adj = edges
      .filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1)
      .map { case (v, ps) => v -> ps.map(_._2).toSet }
    val deg = collection.mutable.Map(adj.map { case (v, ns) => v -> ns.size.toLong }.toSeq: _*)
    val core = collection.mutable.Map[Long, Long]()
    var level = 0L
    while (deg.nonEmpty) {
      val (v, d) = deg.minBy(_.swap)
      level = math.max(level, d)
      core(v) = level
      deg -= v
      adj(v).foreach(n => deg.get(n).foreach(dn => deg(n) = dn - 1))
    }
    core.toMap
  }

  property("kCore and corenessTable equal a sequential peel") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val df = edges.toDF("src", "dst", "w")
      val core = sequentialCoreness(edges)
      // at most 30 nodes, so no core number reaches 30
      val coreness = GraphOps.corenessTable(df, maxK = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wrongK = Seq(2, 3).filter { k =>
        val got = GraphOps.kCore(df, k).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        got != core.map { case (v, c) => v -> (c >= k) }
      }
      Prop(coreness == core && wrongK.isEmpty) :|
        s"coreness=$coreness expected=$core kCore wrong at k=$wrongK"
    }
  }

  property("sssp equals Dijkstra; membership = sources ∪ reached") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val got = GraphOps
        .sssp(edges.toDF("src", "dst", "w"), 0L)
        .collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
        .toMap
      val d = dijkstra(edges, 0L)
      // Reference membership (SURVEY.md Q4): nodes with out-edges ∪ nodes
      // that receive a relaxation. The source itself appears only if it
      // has out-edges — Dijkstra's trivial self-distance does not count
      // as "reached" (the reference's format job never creates a row for
      // an edgeless source, SingleSourceSP.java:101).
      val members = edges.map(_._1).toSet ++ (d.keySet - 0L)
      val expected = members.map(id => id -> d.getOrElse(id, INF)).toMap
      Prop(got == expected) :| s"got=$got expected=$expected"
    }
  }

  property("reverse of reverse preserves the edge multiset") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val df = edges.toDF("src", "dst", "w")
      // reverseGraph drops weights; compare unweighted adjacency multisets
      def adjacency(e: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        GraphOps
          .reverseGraph(e)
          .collect()
          .map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toLong).toSeq)
          .toMap
      val rev = df.select(
        org.apache.spark.sql.functions.col("dst").as("src"),
        org.apache.spark.sql.functions.col("src").as("dst"),
        org.apache.spark.sql.functions.col("w"))
      // reverse(reverse(G)) adjacency == reverse(G applied to swapped edges)
      val twice = adjacency(rev)
      val direct = edges
        .groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2).sorted }
      Prop(twice == direct) :| s"twice=$twice direct=$direct"
    }
  }

  property("adjacency lists are sorted ascending") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val adj = GraphOps
        .reverseGraph(edges.toDF("src", "dst", "w"))
        .collect()
        .map(_.getString(1).split(",").map(_.toLong).toSeq)
      Prop(adj.forall(a => a == a.sorted)) :| "unsorted adjacency found"
    }
  }

  property("star-contraction CC equals label-propagation CC") = forAll(genGraph) { edges =>
    edges.isEmpty || {
      import spark.implicits._
      val df = edges.toDF("src", "dst", "w")
      val byProp = GraphOps.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byStars = GraphOps.connectedComponentsStars(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Prop(byStars == byProp) :| s"stars=$byStars prop=$byProp"
    }
  }

  property("degree-ordered triangle count equals brute-force enumeration") =
    forAll(genGraph) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val r = GraphOps.triangleCount(edges.toDF("src", "dst", "w")).collect()(0)
        // driver-side oracle: undirected simple graph, count node triples
        // with all three edges present
        val und = edges
          .filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
          .toSet
        val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        val triples = for {
          (a, i) <- verts.zipWithIndex
          (b, j) <- verts.zipWithIndex.drop(i + 1)
          if und((a, b))
          c <- verts.drop(j + 1)
          if und((a, c)) && und((b, c))
        } yield (a, b, c)
        Prop(r.getLong(0) == und.size.toLong && r.getLong(1) == triples.size.toLong) :|
          s"got=(${r.getLong(0)},${r.getLong(1)}) expected=(${und.size},${triples.size})"
      }
    }
}
