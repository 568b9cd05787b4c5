package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** Reads the benchmark's definition (BENCHMARK.json) and its recorded
  * outputs (perfbench/expected.json).
  */
object Expected {
  private val mapper = new ObjectMapper()

  private def read(root: Path, file: String): JsonNode = mapper.readTree(root.resolve(file).toFile)

  /** (name, unit) of the end-to-end and of the per-layer metrics, in order. */
  def metricNames(root: Path): (Seq[(String, String)], Seq[(String, String)]) = {
    val b = read(root, "BENCHMARK.json")
    def names(key: String) = b.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    (names("end_to_end"), names("per_layer"))
  }

  private def recorded(root: Path) = read(root, "perfbench/expected.json")

  /** Triples digest recorded for a KG corpus (kg_fresh or kg_hub_link)
    * and seed, if any.
    */
  def kg(root: Path, corpus: String, seed: Long): Option[KgBench.Digest] = {
    val n = recorded(root).path("kg").path(corpus).path(seed.toString)
    if (n.isMissingNode) None
    else Some(KgBench.Digest(n.get("triples").asLong(), java.lang.Long.parseUnsignedLong(n.get("hash").asText(), 16)))
  }

  /** Row count and hash recorded for a query. */
  def query(root: Path, name: String): Option[(Long, String)] = {
    val n = recorded(root).path("queries").path(name)
    if (n.isMissingNode) None else Some(n.get("rows").asLong() -> n.get("hash").asText())
  }
}
