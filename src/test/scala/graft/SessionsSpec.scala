package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory is the engine's one configuration: the benchmark
  * (kgbench/config.json, "session") must measure exactly what the bench
  * legs, Verify and the specs run. */
class SessionsSpec extends AnyFunSuite {

  test("Sessions.local(4) yields kgbench's spark.sql.* session settings exactly") {
    val cfg = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("kgbench/config.json")).get("session")
    val bench = scala.jdk.CollectionConverters.IteratorHasAsScala(cfg.fields()).asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val ours = Sessions.settings(4).toMap
    def sql(m: Map[String, String]) = m.filter(_._1.startsWith("spark.sql."))
    assert(sql(ours) == sql(bench))
    // the other keys both sides set agree too
    for (k <- Seq("spark.master", "spark.ui.enabled"))
      assert(ours(k) == bench(k), k)
  }
}
