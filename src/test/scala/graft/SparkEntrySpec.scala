package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: entry() smoke (rows > 0 at
  * sf0.001, exactly the driver's t1 check) and the frozen face-name set
  * (a face dropped or renamed by a registry edit, or an oracle key
  * without a query, would otherwise surface only in the driver's oracle
  * run). */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  test("queries and oracleSql each hold exactly the frozen face names") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/face_names.txt"), "UTF-8")
    val frozen = try src.getLines().map(_.trim).filter(_.nonEmpty).toSet
      finally src.close()
    assert(frozen.size == 197)
    for ((label, keys) <- Seq("queries" -> SparkEntry.queries.keySet,
                              "oracleSql" -> SparkEntry.oracleSql.keySet))
      assert(keys == frozen,
        s"$label: missing ${(frozen -- keys).toSeq.sorted}, " +
          s"unexpected ${(keys -- frozen).toSeq.sorted}")
  }

  test("entry() returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("BfsApp CLI parsing: reference flags, long forms, defaults") {
    assert(BfsApp.parseArgs(Array("-p", "/x/tiny.txt", "-w", "8")) ==
      Map("path" -> "/x/tiny.txt", "workers" -> "8"))
    assert(BfsApp.parseArgs(Array("--path", "f", "--workers", "2",
      "-s", "7", "-r", "out.csv")) ==
      Map("path" -> "f", "workers" -> "2", "source" -> "7",
        "results" -> "out.csv"))
    assert(BfsApp.parseArgs(Array.empty) == Map.empty)
    // strict: stray tokens and dangling flags error rather than
    // silently shifting the flag/value pairing
    intercept[IllegalArgumentException] {
      BfsApp.parseArgs(Array("-p", "g.txt", "stray", "-w", "8"))
    }
    intercept[IllegalArgumentException] {
      BfsApp.parseArgs(Array("-p", "g.txt", "-w"))
    }
  }
}
