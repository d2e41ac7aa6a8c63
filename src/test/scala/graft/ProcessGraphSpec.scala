package graft

import graft.graph.ProcessGraph
import graft.graph.ProcessGraph.{FromNode, LitArg, Node, SubGraph}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ProcessGraphSpec extends AnyFunSuite with Matchers {

  /** The recursive DFS `topoSorted` replaced: the reference order. */
  private def recursiveOrder(g: ProcessGraph): Seq[String] = {
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    val visiting = scala.collection.mutable.Set[String]()
    def visit(id: String): Unit = {
      if (!visited.contains(id) && g.nodes.contains(id)) {
        require(visiting.add(id), s"process graph cycle at node $id")
        g.nodes(id).deps.distinct.sorted.foreach(visit)
        visiting.remove(id)
        visited.add(id)
      }
    }
    g.nodes.keys.toSeq.sorted.foreach(visit)
    visited.toSeq
  }

  private def order(f: => Seq[String]): Either[String, Seq[String]] =
    try Right(f) catch { case e: IllegalArgumentException => Left(e.getMessage) }

  private val lit = LitArg(com.fasterxml.jackson.databind.node.IntNode.valueOf(1))

  /** `n` nodes with random `from_node` edges (to any node when `cyclic`,
    * else only to lower-numbered ones), some through a callback, and some
    * to ids the graph does not define. */
  private def randomGraph(r: scala.util.Random, n: Int, cyclic: Boolean): ProcessGraph = {
    val ids = (0 until n).map(i => s"n${r.nextInt(1000)}_$i")
    ProcessGraph(ids.zipWithIndex.map { case (id, i) =>
      val targets = Seq.fill(r.nextInt(4)) {
        if (r.nextInt(10) == 0) "missing"
        else if (cyclic) ids(r.nextInt(n))
        else if (i == 0) "missing" else ids(r.nextInt(i))
      }
      val args = targets.zipWithIndex.map { case (t, k) =>
        s"a$k" -> (if (r.nextBoolean()) FromNode(t) else SubGraph(ProcessGraph(
          Map("cb" -> Node("cb", "absolute", Map("x" -> FromNode(t)), result = true)))))
      }.toMap + ("c" -> lit)
      id -> Node(id, "absolute", args, result = i == n - 1)
    }.toMap)
  }

  test("law: the iterative order equals the recursive one on random DAGs and cycles") {
    val r = new scala.util.Random(9)
    var cycles = 0
    for (trial <- 0 until 400) {
      val g = randomGraph(r, 1 + r.nextInt(40), cyclic = trial % 2 == 1)
      val want = order(recursiveOrder(g))
      if (want.isLeft) cycles += 1
      withClue(s"trial $trial") { order(g.topoSorted.map(_.id)) shouldBe want }
    }
    cycles should be > 20
  }

  test("a 100,000-node from_node chain sorts without overflowing the stack") {
    val n = 100000
    val g = ProcessGraph((0 until n).map { i =>
      val args = if (i == 0) Map.empty[String, ProcessGraph.Arg]
        else Map[String, ProcessGraph.Arg]("x" -> FromNode(s"n${i - 1}"))
      s"n$i" -> Node(s"n$i", "absolute", args, result = i == n - 1)
    }.toMap)
    val sorted = g.topoSorted.map(_.id)
    sorted.size shouldBe n
    sorted.head shouldBe "n0"
    sorted.last shouldBe s"n${n - 1}"
    sorted.sliding(2).forall { case Seq(a, b) =>
      a.drop(1).toInt + 1 == b.drop(1).toInt } shouldBe true
  }

  /** `n` nodes: a load, then `absolute`s each reading the load
    * (`fan`, depth 2) or the node before (`chain`, depth n). */
  private def graph(n: Int, fan: Boolean) = (1 until n).map(i =>
    s""""n$i":{"process_id":"absolute","arguments":{"x":{"from_node":"n${if (fan) 0 else i - 1}"}}""" +
      (if (i == n - 1) ""","result":true}""" else "}"))
    .mkString("""{"n0":{"process_id":"load_collection","arguments":{"id":"c1"}},""", ",", "}")

  test("parse refuses a graph over the node cap with a typed error, callbacks counted") {
    // a fan, not a chain: a chain this long is over the depth bound
    ProcessGraph.parse(graph(ProcessGraph.MaxNodes, fan = true)).size shouldBe ProcessGraph.MaxNodes
    val e = intercept[OpenEoError](ProcessGraph.parse(graph(ProcessGraph.MaxNodes + 1, fan = true)))
    e.code shouldBe "ProcessGraphComplexity"
    e.msg should include(s"at most ${ProcessGraph.MaxNodes}")
    // one top-level node whose callback holds the rest
    val cb = (0 until ProcessGraph.MaxNodes).map(i =>
      s""""c$i":{"process_id":"absolute","arguments":{"x":{"from_parameter":"x"}}}""")
      .mkString("{", ",", "}")
    val nested = s"""{"ap":{"process_id":"apply","arguments":{"process":{"process_graph":$cb}},"result":true}}"""
    intercept[OpenEoError](ProcessGraph.parse(nested)).code shouldBe "ProcessGraphComplexity"
  }

  test("parse refuses a from_node path over the depth bound, callbacks counted") {
    val max = ProcessGraph.MaxDepth
    ProcessGraph.parse(graph(max, fan = true)).depth shouldBe 2
    ProcessGraph.parse(graph(max, fan = false)).depth shouldBe max
    val e = intercept[OpenEoError](ProcessGraph.parse(graph(max + 1, fan = false)))
    e.code shouldBe "ProcessGraphComplexity"
    e.msg should include(s"has ${max + 1} nodes; at most $max")
    // a load, then an apply whose callback is a chain of `max - 1` nodes
    def applied(k: Int) = {
      val cb = (0 until k).map(i =>
        s""""c$i":{"process_id":"absolute","arguments":{"x":""" +
          (if (i == 0) """{"from_parameter":"x"}""" else s"""{"from_node":"c${i - 1}"}""") +
          (if (i == k - 1) "},\"result\":true}" else "}}"))
        .mkString("{", ",", "}")
      s"""{"l":{"process_id":"load_collection","arguments":{"id":"c1"}},""" +
        s""""ap":{"process_id":"apply","arguments":{"data":{"from_node":"l"},""" +
        s""""process":{"process_graph":$cb}},"result":true}}"""
    }
    ProcessGraph.parse(applied(max - 2)).depth shouldBe max
    intercept[OpenEoError](ProcessGraph.parse(applied(max - 1))).code shouldBe
      "ProcessGraphComplexity"
  }
}
