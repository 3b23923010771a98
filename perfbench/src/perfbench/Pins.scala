package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected outputs per (workload, seed), one `workload<TAB>seed<TAB>key<TAB>value`
  * line each. A seed without pins is still checked for internal
  * consistency (every pass equal, counts adding up), and the run says it
  * was unpinned. `--pin` regenerates the lines of a seed range. */
final class Pins(path: String) {
  private val rows: Map[(String, Long), Map[String, String]] =
    if (!Files.isRegularFile(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toVector
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t", 4))
      .groupBy(a => (a(0), a(1).toLong))
      .map { case (k, v) => k -> v.map(a => a(2) -> a(3)).toMap }

  def of(workload: String, seed: Long): Option[Map[String, String]] = rows.get((workload, seed))
}
