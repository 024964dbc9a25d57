package cdfcbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.File
import scala.jdk.CollectionConverters._

/** Recorded op outputs per workload and seed (`expected.json`): what a
  * correct engine returns for that seed, so a run on a recorded seed checks
  * values, not only repeatability.
  */
object Expected {
  private val mapper = new ObjectMapper()

  def lookup(f: File, workload: String, seed: Long): Option[Signature] =
    if (!f.isFile) None
    else Option(mapper.readTree(f).path(workload).get(seed.toString)).map { n =>
      Signature(n.get("checksum").asLong(), n.get("champion").asText(),
        n.get("features").elements().asScala.map(_.asText()).toSeq)
    }

  /** One record line, `EXPECTED <json>`, merged into the file by run.py. */
  def entry(workload: String, seed: Long, s: Signature): String = {
    val n = mapper.createObjectNode()
    n.put("workload", workload)
    n.put("seed", seed)
    n.put("checksum", s.checksum)
    n.put("champion", s.champion)
    val fs = n.putArray("features")
    s.features.foreach(x => fs.add(x))
    "EXPECTED " + mapper.writeValueAsString(n)
  }
}
