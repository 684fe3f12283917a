package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-session-factory rule: the tests run on the timed
  * configuration, and no other source file builds its own session.
  */
class SessionsSpec extends AnyFunSuite {

  test("the test session carries the timed session settings") {
    val conf = SparkTestSession.spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") ==
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PART", "8m"))
    assert(conf.get("spark.sql.shuffle.partitions") == Sessions.cpus)
  }

  test("Sessions.scala holds the only session builder under src") {
    // ExtensionsSpec builds a second session on purpose: it tests
    // extension injection, which getOrCreate() would skip
    val allowed = Set("Sessions.scala", "ExtensionsSpec.scala")
    val needle = "SparkSession" + ".builder"
    val files = Seq("src/main/scala", "src/test/scala").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val builders = files.filter((p: Path) => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).filterNot(allowed)
    assert(files.size > 100)
    assert(builders.isEmpty, s"session builders outside Sessions.scala: $builders")
  }
}
