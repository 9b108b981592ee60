package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every harness builds its session through [[Session.builder]]: a copied
  * builder block drifts from the others one config line at a time. The
  * same source scan keeps spark.ml out of the engine: every k-means there
  * is graft.operators.Clustering.lloyd, a deterministic, oracle-checked
  * fit, not a seeded black box. It also keeps one exactly-once batch
  * commit: the `_commit_<b>` marker and the foreachBatch starter live only
  * in graft/streaming/BatchCommit.scala, and each persisted index has one
  * (staged) append. Blooms keep one sizing rule (per file, no
  * `bloomBits` knob) and one double-hashing position step, BloomUtil's.
  * gtab keeps one deletion-vector format, the `#dvp` position vectors,
  * and one codec for manifest stat keys: only sources/ManifestCodec.scala
  * tests or spells a reserved `#` key; everything else reads typed
  * entry fields.
  */
class SessionSpec extends AnyFunSuite {
  private def sources(root: String) = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala.toList.filter(_.toString.endsWith(".scala"))
    finally files.close()
  }

  test("sessions are built only in graft/Session.scala") {
    val own = Paths.get("src/main/scala/graft/Session.scala")
    val builderCall = "SparkSession\\s*\\.\\s*builder".r
    val mlImport = "import\\s+org\\.apache\\.spark\\.ml\\b".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(sources)
      .filter(p => p != own &&
        builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(Files.exists(own), s"$own moved: re-point this guard")
    assert(offenders.isEmpty,
      s"build sessions with graft.Session.builder, not in: ${offenders.mkString(", ")}")
    val mlUsers = sources("src/main/scala")
      .filter(p => mlImport.findFirstIn(Files.readString(p)).isDefined)
    assert(mlUsers.isEmpty,
      s"fit k-means with graft.operators.Clustering.lloyd, not spark.ml, in: ${mlUsers.mkString(", ")}")
  }

  test("batch commits go only through graft/streaming/BatchCommit.scala") {
    val own = Paths.get("src/main/scala/graft/streaming/BatchCommit.scala")
    val commitSite = "\"[^\"\n]*_commit_|\\.\\s*foreachBatch\\b".r
    val main = sources("src/main/scala")
    val offenders = main.filter(p => p != own &&
      commitSite.findFirstIn(Files.readString(p)).isDefined)
    val twins = main.filter(Files.readString(_).contains("appendBatchExactlyOnce"))
    assert(offenders.isEmpty && twins.isEmpty,
      s"commit micro-batches through BatchCommit, not in: ${offenders.mkString(", ")}; " +
        s"each index has one append, appendBatch, so remove the twin in: ${twins.mkString(", ")}")
    assert(Files.exists(own), s"$own moved: re-point this guard")
  }

  test("blooms have one position step, BloomUtil's, and no bloomBits knob") {
    val own = Paths.get("src/main/scala/graft/functions/BloomExprs.scala")
    val step = "h1\\s*\\+\\s*i\\s*\\*\\s*h2".r
    val copies = Seq("src/main/scala", "src/test/scala").flatMap(sources)
      .filter(p => p != own && step.findFirstIn(Files.readString(p)).isDefined)
    val knobs = sources("src/main/scala")
      .filter(Files.readString(_).contains("\"bloomBits\""))
    assert(copies.isEmpty,
      s"set and probe bloom bits through BloomUtil, not in: ${copies.mkString(", ")}")
    assert(knobs.isEmpty,
      s"gtab blooms are sized per file (GTabBloom.bitsFor), no bloomBits in: ${knobs.mkString(", ")}")
    assert(Files.exists(own), s"$own moved: re-point this guard")
  }

  test("gtab writes and reads one deletion-vector format, #dvp") {
    val valueDv =
      "\"[^\"\n]*#dv:|\\b(DvPrefix|writeDvDistributed|dvDeleted)\\b".r
    val offenders = sources("src/main/scala")
      .filter(p => valueDv.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"delete rows through #dvp position vectors, not a value-keyed format, in: ${offenders.mkString(", ")}")
  }

  test("gtab stat keys are parsed and built only in sources/ManifestCodec.scala") {
    val own = Paths.get("src/main/scala/graft/sources/ManifestCodec.scala")
    val statKey =
      "startsWith\\(\"#(?!#)|\"#(bloom|ndv|part|dv|sz|nf|nbl|pall|pcols)".r
    val offenders = sources("src/main/scala").filter(p => p != own &&
      statKey.findFirstIn(Files.readString(p)).isDefined)
    assert(Files.exists(own), s"$own moved: re-point this guard")
    assert(offenders.isEmpty,
      s"read manifest stats through FileStats/ShardRef fields, not '#' keys, in: ${offenders.mkString(", ")}")
  }
}
