package graft.run

import org.scalatest.funsuite.AnyFunSuite

/** The launch's partition decision, without a session. */
class LaunchSpec extends AnyFunSuite {

  test("shuffle partitions: a local master's threads, Spark's default elsewhere, an explicit setting kept") {
    val cores = Runtime.getRuntime.availableProcessors()
    def partitions(master: String) = Launch.shufflePartitions(master, Map.empty)
    assert(partitions("local[4]").contains("4"))
    assert(partitions("local[*]").contains(cores.toString))
    assert(partitions("local").contains("1"))
    assert(partitions("local[2,3]").contains("2"))
    assert(partitions("spark://h:7077").isEmpty)
    assert(partitions("yarn").isEmpty)
    val explicit = Map("spark.sql.shuffle.partitions" -> "7")
    Seq("local[4]", "yarn").foreach { m =>
      assert(Launch.shufflePartitions(m, explicit).contains("7"), m)
    }
  }
}
