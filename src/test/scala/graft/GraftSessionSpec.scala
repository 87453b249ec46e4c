package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `GraftSession` is the repository's only session builder: the suite's
  * session comes from it, and every entry point shares its settings.
  */
class GraftSessionSpec extends SparkSpec {

  test("a factory session resolves graft SQL functions and carries the " +
      "shared settings") {
    val sim = spark.sql(
      """SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |                  array(cast(2.0 as float), cast(0.0 as float)))"""
        .stripMargin).head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-9, s"cosine_sim = $sim")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      SparkSpec.cpus.toString)
    assert(spark.sparkContext.master == s"local[${SparkSpec.cpus}]")
  }

  test("src/main and src/test hold exactly one session builder") {
    // Split so this file does not match itself.
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val hits = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains(needle) => s"$p:${i + 1}"
          }
        }.toList
      finally walk.close()
    }
    assert(hits.size == 1 &&
      hits.head.startsWith("src/main/scala/graft/GraftSession.scala:"),
      s"expected one builder, in GraftSession:\n${hits.mkString("\n")}")
  }
}
