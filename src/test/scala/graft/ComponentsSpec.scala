package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import vigil.{ComponentsBudget, SparkJobs}
import vigil.dedup.Dedup

/** `Dedup.connectedComponents` on its two paths: the default budget
  * (small graphs finish on the driver before round 1) and budget 0 (the
  * distributed label rounds alone), on shapes that make min-label rounds
  * slow: sorted, permuted and zig-zag paths and a comb.
  */
class ComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private case class Graph(name: String, nodes: Seq[Long], pairs: Seq[(Long, Long)]) {
    def closed: Boolean = {
      val ns = nodes.toSet
      pairs.forall { case (a, b) => ns(a) && ns(b) }
    }
  }

  /** Seeded random graphs: self-loops, duplicate and reversed (`id_a >
    * id_b`) pairs, negative ids, and on odd seeds pair endpoints that are
    * not nodes — some below every node id, so they become labels.
    */
  private def random(seed: Int): Graph = {
    val r = new scala.util.Random(seed)
    val nodes = r.shuffle((-40L until 400L).toList).take(20 + r.nextInt(30))
    val dangling = if (seed % 2 == 1) Seq(-100L, -41L, 401L, 1000L) else Nil
    val ends = nodes ++ dangling
    def end() = ends(r.nextInt(ends.size))
    val base = Seq.fill(r.nextInt(nodes.size) + 5) {
      r.nextInt(10) match {
        case 0 => val v = end(); (v, v)
        case _ => (end(), end())
      }
    }
    val dups = base.take(3)
    val reversed = base.take(4).map(_.swap)
    Graph(s"random seed $seed", nodes, r.shuffle(base ++ dups ++ reversed))
  }

  private val graphs: Seq[Graph] = (1 to 14).map(random) ++ Seq(
    Graph("star, centre smallest", (0L to 30L), (1L to 30L).map(0L -> _)),
    Graph("star, centre largest", (0L to 30L), (0L until 30L).map(_ -> 30L)),
    Graph("two stars sharing leaves", (0L to 40L),
      (2L to 40L).flatMap(l => Seq((0L, l), (l, 1L)))),
    {
      // a path of 200 (diameter 199 ≫ 25) over a permutation of the ids,
      // so the component minimum sits mid-path
      val perm = (0 until 200).sortBy(i => (i * 2654435761L) % 4294967296L)
        .map(_.toLong)
      Graph("permuted chain of 200", perm, perm.sliding(2).map(w => (w(0), w(1))).toSeq)
    },
    // ids in path order: each hook tree is the whole remaining path
    Graph("sorted chain of 30", (0L until 30L), (0L until 29L).map(i => (i, i + 1))),
    {
      // path order 0, 599, 1, 598, …: every other id is a local minimum
      val zig = (0L until 300L).flatMap(i => Seq(i, 599L - i))
      Graph("zig-zag path of 600", zig, zig.sliding(2).map(w => (w(0), w(1))).toSeq)
    },
    {
      // a sorted spine of large ids, each with one small pendant leaf,
      // the leaves permuted: round 2 hooks every spine id to its leaf,
      // so the contracted graph is a permuted path of the leaves
      val spine = 1000L until 1300L
      val leaves = new scala.util.Random(7).shuffle((0L until 300L).toList)
        .zip(spine)
      Graph("comb of 300 with permuted leaves", spine ++ leaves.map(_._1),
        spine.sliding(2).map(w => (w(0), w(1))).toSeq ++ leaves.map(_.swap))
    },
    // every pair has a non-node endpoint: nothing links, and each even
    // id but 0 takes the odd id below it as its label
    Graph("chain of 2,000 ids, odd ids not nodes", (0L until 2000L by 2),
      (0L until 1999L).map(i => (i, i + 1))),
    Graph("no pairs", Seq(3L, 1L, 2L), Nil),
    Graph("only self-loops and dangling", Seq(5L, 6L, 7L),
      Seq((5L, 5L), (6L, 99L), (99L, 98L), (7L, 7L))),
    Graph("cliques and singletons", (0L until 30L),
      (for (c <- 0 until 3; i <- 0 until 6; j <- i + 1 until 6)
        yield ((c * 10 + i).toLong, (c * 10 + j).toLong)))
  )

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == rows.map(_._1).distinct.length, "a node has two labels")
    rows.toMap
  }

  private def atBudgets(g: Graph): Seq[(String, Map[Long, Long])] = {
    val nodes = g.nodes.toDF("doc_id")
    val pairs = g.pairs.toDF("id_a", "id_b")
    Seq(
      "default" -> labels(Dedup.connectedComponents(nodes, "doc_id", pairs)),
      "budget 0" -> labels(ComponentsBudget.connectedComponents(nodes, "doc_id", pairs, 0)))
  }

  /** Union-find over the raw pairs, the smallest id as root. */
  private def twin(g: Graph): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    g.pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    g.nodes.map(v => v -> find(v)).toMap
  }

  test("labels agree across budgets and with a union-find twin on closed graphs") {
    assert(graphs.size >= 20)
    assert(graphs.count(!_.closed) >= 5, "too few graphs with non-node endpoints")
    graphs.foreach { g =>
      val got = atBudgets(g)
      val (_, first) = got.head
      assert(first.keySet == g.nodes.toSet, g.name)
      got.tail.foreach { case (budget, l) =>
        assert(l == first, s"${g.name}: $budget differs from default: " +
          l.toSeq.diff(first.toSeq).take(5))
      }
      if (g.closed) assert(first == twin(g), s"${g.name}: differs from the twin")
    }
  }

  test("a pair endpoint that is not a node links nothing, unless it is a node's smallest neighbor") {
    val cases = Seq(
      (Seq(1L, 2L, 5L), Seq((1L, 9L), (2L, 9L)), Map(1L -> 1L, 2L -> 2L, 5L -> 5L)),
      (Seq(5L, 7L), Seq((5L, 0L), (5L, 7L)), Map(5L -> 0L, 7L -> 0L)))
    cases.foreach { case (nodes, pairs, expected) =>
      atBudgets(Graph("hand", nodes, pairs)).foreach { case (budget, l) =>
        assert(l == expected, s"$budget: $pairs")
      }
    }
    // the later rounds run over the contracted label edges, so 1 and 2
    // stay apart while the 71-node path merges (over the raw pairs, 9
    // would link them)
    val nodes = (Seq(1L, 2L) ++ (10L to 80L)).toDF("doc_id")
    val pairs = (Seq((1L, 9L), (2L, 9L)) ++ (10L until 80L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    Seq(Dedup.connectedComponents(nodes, "doc_id", pairs),
      ComponentsBudget.connectedComponents(nodes, "doc_id", pairs, 0)
    ).map(labels).foreach { got =>
      assert(got(1L) == 1L && got(2L) == 2L && (10L to 80L).forall(got(_) == 10L), got)
    }
  }

  /** A sorted path is the slow shape for min-label rounds: with one
    * pointer jump per round it loses two labels a round. Shortcutting
    * every hook tree to its root finishes it in two rounds: 56 jobs at
    * local[4], where 25 one-jump rounds and a large-star/small-star
    * finish took 426.
    */
  test("a sorted 4,096-id chain at budget 0 runs in at most 100 Spark jobs") {
    val n = 4096L
    val nodes = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var got = Map.empty[Long, Long]
    val jobs = SparkJobs.during(spark) {
      got = labels(ComponentsBudget.connectedComponents(nodes, "doc_id", pairs, 0))
    }
    assert(got.size == n && got.values.forall(_ == 0L))
    assert(jobs <= 100, s"$jobs Spark jobs")
  }
}
