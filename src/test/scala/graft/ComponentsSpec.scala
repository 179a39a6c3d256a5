package graft

import java.nio.file.Files

import graft.operators.{Dedup, Truncate}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import scala.collection.mutable

/** Property tests for [[Dedup.components]], the connected-components
  * step of `dedupGroups`: on any edge frame, every node with an edge is
  * labeled exactly once, with the smallest node id of its component — the
  * answer a plain breadth-first search gives. Run once on the sized
  * single-partition path (every fixture lands there) and once with the
  * edge table forced into three partitions under a reliable checkpoint,
  * which exercises the local contraction, the label-propagation loop and
  * the cluster-safe truncation. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** Reference: BFS over the undirected graph, each node to its
    * component's minimum. */
  private def bfsMinLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val label = mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!label.contains(start)) {
        // ascending visit order: the first unlabeled node is its
        // component's minimum
        val queue = mutable.Queue(start)
        label(start) = start
        while (queue.nonEmpty) {
          val v = queue.dequeue()
          adj(v).foreach(u => if (!label.contains(u)) { label(u) = start; queue.enqueue(u) })
        }
      }
    }
    label.toMap
  }

  /** Node ids are a random permutation of sparse values, so no label is
    * ever right by accident of numbering. */
  private def relabeled(edges: Seq[(Int, Int)], n: Int): Gen[Seq[(Long, Long)]] = for {
    picked <- Gen.pick(n, 0L until 10L * n)
    keys <- Gen.listOfN(n, Gen.long)
  } yield {
    val ids = picked.zip(keys).sortBy(_._2).map(_._1).toIndexedSeq
    edges.map { case (a, b) => (ids(a), ids(b)) }
  }

  private val randomGraph: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 40)
    m <- Gen.chooseNum(1, 2 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1)))
    g <- relabeled(es.filter { case (a, b) => a != b }, n)
  } yield g

  private val longChain: Gen[Seq[(Long, Long)]] = for {
    len <- Gen.chooseNum(50, 80)
    g <- relabeled((0 until len).map(i => (i, i + 1)), len + 1)
  } yield g

  private val star: Gen[Seq[(Long, Long)]] = for {
    leaves <- Gen.chooseNum(1, 30)
    g <- relabeled((1 to leaves).map(i => (0, i)), leaves + 1)
  } yield g

  /** Every edge repeated, in both orientations. */
  private val duplicated: Gen[Seq[(Long, Long)]] = for {
    g <- randomGraph
    k <- Gen.chooseNum(2, 3)
  } yield Seq.fill(k)(g).flatten ++ g.map(_.swap)

  private def agrees(edges: Seq[(Long, Long)], ck: Truncate, parts: Option[Int]): Boolean = {
    val got = Dedup.components(edges.toDF("src", "dst"), ck, maxIters = 50, parts = parts)
      .as[(Long, Long)].collect().toSeq
    got.size == got.map(_._1).distinct.size && got.toMap == bfsMinLabels(edges)
  }

  private def allShapes(ck: Truncate, parts: Option[Int]): Unit = {
    Seq("random" -> randomGraph, "chain" -> longChain, "star" -> star,
      "duplicate edges" -> duplicated).foreach { case (shape, gen) =>
      withClue(s"$shape: ")(check(Prop.forAll(gen)(agrees(_, ck, parts)), n = 5))
    }
    assert(agrees(Nil, ck, parts), "the empty graph has no labels")
  }

  test("property: one partition labels every node with its BFS component minimum") {
    allShapes(Truncate.Local, parts = None)
  }

  test("property: three partitions under a reliable checkpoint give the same labels") {
    val dir = Files.createTempDirectory("graft-ck-components").toFile
    allShapes(Truncate.Reliable(dir.getAbsolutePath), parts = Some(3))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(dir).nonEmpty, s"reliable checkpoint dir $dir is empty — checkpoint() never ran")
  }
}
