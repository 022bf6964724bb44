package graft.elb

import graft.SparkSpec
import java.nio.file.Files

class IngestSpec extends SparkSpec {

  test("staged landing zone parses identically to direct .gz parse") {
    val gz = ElbFixtures.standardFixture()
    val staged = Files.createTempDirectory("staged").toString + "/landing"
    Ingest.recompress(spark, Seq(gz), staged)
    val direct = ElbParser.parse(spark, Seq(gz)).drop("log_source_file")
    val viaStage = Ingest.parseStaged(spark, staged).drop("log_source_file")
    assert(direct.count() == viaStage.count())
    assert(direct.except(viaStage).count() == 0)
    assert(viaStage.except(direct).count() == 0)
    // staging produced splittable parquet, not gz text
    assert(new java.io.File(staged).listFiles().exists(_.getName.endsWith(".parquet")))
  }
}
