package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import graft.model.{GraftOntology => O}
import graft.operators._
import graft.serving.{HostedGraph, MultiGraph}

/** Order-independent digest of an answer's key set: the key count and the
  * wrapping sum of each key's 64-bit hash (first 8 MD5 bytes,
  * little-endian) — the same pair perfbench/gen.py states per request. */
object Digest {
  private val md5 = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def hash(key: String): Long = {
    val d = md5.get().digest(key.getBytes("UTF-8"))
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  def of(keys: Iterable[String]): (Long, Long) = (keys.size.toLong, keys.iterator.map(hash).sum)

  /** Compare `keys` with an expected {"n", "h"} object. */
  def check(keys: Seq[String], expect: JsonNode): Outcome = {
    val (n, h) = of(keys)
    val en = expect.get("n").asLong
    val eh = java.lang.Long.parseUnsignedLong(expect.get("h").asText)
    if (n == en && h == eh) Outcome.ok(n)
    else if (n != en) Outcome.wrong(s"expected $en answer keys, got $n")
    else Outcome.wrong(s"answer keys differ from the oracle's ($n keys)")
  }
}

/** One seeded request, decoded from the JSON the generator wrote. */
final case class Request(op: String, key: String, body: JsonNode) {
  def expect: JsonNode = body.get("expect")
}

object Requests {
  val mapper = new ObjectMapper()
  val Graph = "kg"
  val Kp = "infores:graft"

  def strings(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText).toSeq

  def decode(n: JsonNode): Request = Request(n.get("op").asText, n.get("key").asText, n)

  def queryGraph(q: JsonNode): QueryGraph = {
    val nodes = q.get("nodes").elements().asScala.map { n =>
      QNode(n.get("key").asText, strings(n.get("ids")), strings(n.get("categories")))
    }.toSeq
    val e = q.get("edge")
    val qual = Option(e.get("qualifier")).filterNot(_.isNull).map { c =>
      QualifierConstraint(
        qualifiedPredicate = Option(c.get("qualified_predicate")).map(_.asText),
        objectDirection = Option(c.get("object_direction")).map(_.asText))
    }.toSeq
    val attrs = e.get("attrs").elements().asScala.map { a =>
      AttributeConstraint(a.get("id").asText, a.get("op").asText,
        strValues = strings(a.get("str")),
        numValues = Option(a.get("num")).map(_.elements().asScala.map(_.asDouble).toSeq)
          .getOrElse(Nil),
        negated = a.path("negated").asBoolean(false))
    }.toSeq
    QueryGraph(nodes, Some(QEdge(e.get("subject").asText, e.get("object").asText,
      strings(e.get("predicates")), qual, attrs)))
  }

  /** OneHop's input/output qnode rule: the first node with strictly the
    * most pinned ids is the input. */
  def bindingKeys(qg: QueryGraph): (String, String) = {
    val in = qg.nodes.foldLeft(Option.empty[QNode]) { (best, n) =>
      if (n.ids.size > best.map(_.ids.size).getOrElse(0)) Some(n) else best
    }.get
    (in.key, qg.nodes.find(_.key != in.key).get.key)
  }

  private def collect(df: => DataFrame): Array[Row] = {
    val d = Trace.span("operators.build")(df)
    Trace.span("collect")(d.collect())
  }

  /** Run one request against the serving layer, render it the way a TRAPI
    * client receives its results, and check the answer. */
  def run(mg: MultiGraph, r: Request): Outcome = r.op match {
    case "answer" =>
      val qg = queryGraph(r.body.get("qg"))
      val matches = Trace.span("serving.answer")(mg.answer(r.key, qg))
      val (inKey, outKey) = bindingKeys(qg)
      val res = OneHop.Result(matches, inKey, outKey)
      val rows = collect(TrapiResponse.resultParts(res, Kp).select("key"))
      Digest.check(rows.map("result|" + _.getString(0)).toSeq, r.expect)
    case op =>
      val df = Trace.span("serving.answer")(mg.preparedPlan(Some(Graph), r.key) { (_, h) =>
        Trace.span("operators.build")(graphOp(mg, h, op, r.body))
      })
      val rows = Trace.span("collect")(df.collect())
      Digest.check(rows.map(x => s"${x.getString(0)}|${Option(x.getString(1)).getOrElse("")}").toSeq,
        r.expect)
  }

  /** The GraphOps batch endpoints, projected to the two key columns. */
  private def graphOp(mg: MultiGraph, h: HostedGraph, op: String, b: JsonNode): DataFrame =
    op match {
      case "edges" =>
        val pairs = b.get("pairs").elements().asScala.map(p => (p.get(0).asText, p.get(1).asText)).toSeq
        GraphOps.getEdges(mg.spark, h.graph, pairs).select("pair_key", "edge_id")
      case "neighbors" =>
        GraphOps.getNeighbors(mg.spark, h.graph, O.ontology, strings(b.get("ids")),
          strings(b.get("categories")), strings(b.get("predicates")))
      case "node" =>
        GraphOps.singleNode(mg.spark, h.graph, strings(b.get("ids")), h.closure, h.index)
    }
}
