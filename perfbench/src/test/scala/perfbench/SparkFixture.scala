package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import graft.Sessions

/** A small local session for the benchmark's own tests; tests run with the
  * benchmark directory as working directory. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = {
    val s = Sessions.tuned(SparkSession.builder().master("local[2]"), "2").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val benchDir: Path = Path.of("").toAbsolutePath
  val repoRoot: Path = benchDir.getParent
}
