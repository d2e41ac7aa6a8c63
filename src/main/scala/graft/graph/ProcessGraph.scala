package graft.graph

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** openEO process-graph model + parser (replaces the reference's external
  * openeo-pg-parser dependency, openeo_odc_driver/openeo_odc_driver.py:90).
  *
  * A process graph is a JSON object {nodeId → {process_id, arguments,
  * result?}}; arguments reference other nodes ({"from_node": id}), parent
  * parameters ({"from_parameter": name}), literals, or embedded child
  * process graphs ({"process_graph": {...}}) — the openEO reducer/callback
  * convention.
  */
object ProcessGraph {

  sealed trait Arg
  final case class LitArg(value: JsonNode) extends Arg
  final case class FromNode(nodeId: String) extends Arg
  final case class FromParameter(name: String) extends Arg
  final case class SubGraph(graph: ProcessGraph) extends Arg
  final case class ArrayArg(items: Seq[Arg]) extends Arg

  final case class Node(
      id: String,
      processId: String,
      arguments: Map[String, Arg],
      result: Boolean) {
    /** Node ids this node depends on (transitively through array args,
      * NOT through sub-graphs — those bind at their parent's scope). */
    def deps: Seq[String] = arguments.values.toSeq.flatMap(argDeps)
    private def argDeps(a: Arg): Seq[String] = a match {
      case FromNode(id)  => Seq(id)
      case ArrayArg(xs)  => xs.flatMap(argDeps)
      case SubGraph(g)   => g.externalDeps
      case _             => Nil
    }
  }

  /** Most nodes a process graph may hold, callback nodes included. A
    * larger graph is refused at parse time with a typed openEO error
    * (a 400 from the server) before any work grows with its size; real
    * graphs hold tens of nodes. The cap bounds the count; [[MaxDepth]]
    * bounds the depth. */
  val MaxNodes: Int = 1000

  /** Most nodes on one `from_node` path ([[ProcessGraph.depth]]). A
    * deeper graph is refused at parse time like a larger one: each node of
    * a chain composes over the whole plan below it, so composing costs the
    * square of the depth, and past some depth Catalyst overflows its
    * stack. Measured through `graft.api.Server` on a 4-core host (a chain
    * of `absolute` over a 16-cell cube): 250 nodes answered in 2.0 s, 500
    * in 5.9 s, and 600 ended in a StackOverflowError (a 500) after 6.3 s,
    * 1,000 after 19 s. The bound keeps about half the overflowing depth.
    *
    * The overflow has a second cause: the depth of one Column. On a
    * thread with a 1 MB stack (the server's request threads; Spark 4.1.2,
    * `local[4]`, a 16-row frame), one `select` of an n-deep `abs` Column
    * passed at n = 300 and overflowed at n = 400, while a 600-step
    * `withColumn` chain passed (1.9 to 2.3 s to compose). With a 64 MB
    * stack a 1,000-deep Column composed in 0.11 s and collected in 0.7 to
    * 0.9 s. So folding an element-wise chain into one Column lowers the
    * depth at which a 1 MB thread overflows; by itself it cannot lift this
    * bound. */
  val MaxDepth: Int = 256

  def parse(json: String): ProcessGraph = {
    val root = new ObjectMapper().readTree(json)
    // accept either the bare graph or {"process_graph": {...}} wrapping
    val graphNode =
      if (root.has("process_graph")) root.get("process_graph") else root
    val g = fromJson(graphNode)
    val n = g.size
    if (n > MaxNodes) throw graft.OpenEoError("ProcessGraphComplexity",
      s"The process graph has $n nodes; at most $MaxNodes are accepted.")
    val d = g.depth
    if (d > MaxDepth) throw graft.OpenEoError("ProcessGraphComplexity",
      s"The process graph's longest from_node path has $d nodes; at most " +
        s"$MaxDepth are accepted.")
    g
  }

  def fromJson(graphNode: JsonNode): ProcessGraph = {
    val nodes = graphNode.properties().asScala.map { e =>
      val id = e.getKey; val n = e.getValue
      val args = Option(n.get("arguments")).map(_.properties().asScala.map { a =>
        a.getKey -> parseArg(a.getValue)
      }.toMap).getOrElse(Map.empty)
      Node(id, n.get("process_id").asText(), args,
        Option(n.get("result")).exists(_.asBoolean(false)))
    }.toSeq
    ProcessGraph(nodes.map(n => n.id -> n).toMap)
  }

  private def parseArg(v: JsonNode): Arg =
    if (v.isObject && v.has("from_node")) FromNode(v.get("from_node").asText())
    else if (v.isObject && v.has("from_parameter"))
      FromParameter(v.get("from_parameter").asText())
    else if (v.isObject && v.has("process_graph"))
      SubGraph(fromJson(v.get("process_graph")))
    else if (v.isArray) ArrayArg(v.elements().asScala.toSeq.map(parseArg))
    else LitArg(v)
}

final case class ProcessGraph(nodes: Map[String, ProcessGraph.Node]) {
  import ProcessGraph._

  /** Node ids referenced by this graph's nodes that are NOT defined in this
    * graph (i.e. references escaping a sub-graph to the enclosing scope). */
  def externalDeps: Seq[String] =
    nodes.values.toSeq.flatMap(_.deps).distinct.filterNot(nodes.contains)

  /** Nodes on the longest `from_node` path; a node counts its deepest
    * callback's depth too. */
  def depth: Int = {
    def argDepth(a: Arg): Int = a match {
      case SubGraph(g) => g.depth
      case ArrayArg(xs) => xs.map(argDepth).maxOption.getOrElse(0)
      case _ => 0
    }
    val d = scala.collection.mutable.Map[String, Int]()
    topoSorted.foreach { n =>
      d(n.id) = 1 + n.arguments.values.map(argDepth).maxOption.getOrElse(0) +
        n.deps.flatMap(d.get).maxOption.getOrElse(0)
    }
    d.values.maxOption.getOrElse(0)
  }

  /** Number of nodes, callback nodes included. */
  def size: Int = {
    def argSize(a: Arg): Int = a match {
      case SubGraph(g) => g.size
      case ArrayArg(xs) => xs.map(argSize).sum
      case _ => 0
    }
    nodes.values.map(n => 1 + n.arguments.values.map(argSize).sum).sum
  }

  /** Topological order (dependencies first) — the reference's
    * `.sort(by='result')` planner (openeo_odc_driver.py:90). Deterministic:
    * roots and each node's dependencies are visited in node-id order, and
    * a node follows its dependencies (DFS post-order). An explicit stack
    * replaces recursion, so a long `from_node` chain cannot overflow the
    * thread's stack. */
  def topoSorted: Seq[Node] = {
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    val visiting = scala.collection.mutable.Set[String]()
    // one frame per node on the DFS path: the node and its unvisited deps
    val path = scala.collection.mutable.Stack[(String, Iterator[String])]()
    def enter(id: String): Unit =
      if (!visited.contains(id) && nodes.contains(id)) {
        require(visiting.add(id), s"process graph cycle at node $id")
        path.push((id, nodes(id).deps.distinct.sorted.iterator))
      }
    nodes.keys.toSeq.sorted.foreach { root =>
      enter(root)
      while (path.nonEmpty) {
        val (id, deps) = path.top
        if (deps.hasNext) enter(deps.next())
        else {
          path.pop()
          visiting.remove(id)
          visited.add(id)
        }
      }
    }
    visited.toSeq.map(nodes)
  }

  /** The node flagged `"result": true`. The openEO spec requires exactly
    * one; silently falling back to "the last topological node" would
    * compute an arbitrary intermediate when a client forgets the flag. */
  def resultNode: Node =
    nodes.values.find(_.result).getOrElse(throw new IllegalArgumentException(
      "process graph has no node with \"result\": true"))
}
