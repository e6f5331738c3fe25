package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Parameters of the `ingest` workload's synthetic detections. */
final case class IngestParams(rows: Int, epochs: Int, epochDays: Int,
                              level: Int,
                              marginDeg: Double, raSpan: Double,
                              decSpan: Double, stripeHalfWidth: Double,
                              stripeFrac: Double)

/** One workload of `perfbench/workloads.json`: either a frozen query
  * list with the write-once layouts it reads, or the ingest cycle. */
final case class Workload(name: String, queries: Seq[String],
                          layouts: Seq[String],
                          ingest: Option[IngestParams])

final case class Spec(workloads: Seq[Workload]) {
  def workload(name: String): Workload =
    workloads.find(_.name == name).getOrElse(throw
      new IllegalArgumentException(s"unknown workload '$name' (known: " +
        workloads.map(_.name).mkString(", ") + ")"))
}

object Spec {
  def load(path: String): Spec = parse(new ObjectMapper()
    .readTree(new java.io.File(path)))

  def parse(root: JsonNode): Spec = {
    def req(n: JsonNode, k: String): JsonNode = Option(n.get(k))
      .getOrElse(throw new IllegalArgumentException(s"missing key '$k'"))
    def strs(n: JsonNode, k: String): Seq[String] =
      Option(n.get(k)).map(_.elements.asScala.map(_.asText).toSeq)
        .getOrElse(Nil)
    val ws = req(root, "workloads").elements.asScala.map { w =>
      val ingest = Option(w.get("ingest")).map { i =>
        IngestParams(req(i, "rows").asInt, req(i, "epochs").asInt,
          req(i, "epoch_days").asInt, req(i, "level").asInt, req(i, "margin_deg").asDouble,
          req(i, "ra_span_deg").asDouble, req(i, "dec_span_deg").asDouble,
          req(i, "stripe_half_width_deg").asDouble,
          req(i, "stripe_frac").asDouble)
      }
      Workload(req(w, "name").asText, strs(w, "queries"),
        strs(w, "layouts"), ingest)
    }.toSeq
    Spec(ws)
  }

  /** Committed fingerprints: query name → "rows:hash". */
  def fingerprints(path: String): Map[String, String] = {
    val n = new ObjectMapper().readTree(new java.io.File(path))
    n.fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }
}
