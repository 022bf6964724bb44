package graft.tools

import graft.SparkSpec
import graft.elb.ElbFixtures
import java.nio.file.Files

class ElbCliSpec extends SparkSpec {

  test("pipeline CLI: every argument but the last is an input, the last is the output") {
    val in = Files.createTempDirectory("elb-cli-in")
    val a = ElbFixtures.writeGz(in, "a.log.gz", ElbFixtures.allLines)
    val b = ElbFixtures.writeGz(in, "b.log.gz", ElbFixtures.allLines)
    val out = Files.createTempDirectory("elb-cli-out").resolve("out").toString
    ElbPipelineCli.run(spark, Seq(a, b, out))
    val sources = spark.read.parquet(s"$out/cleaned_logs")
      .select("log_source_file").distinct().collect().map(_.getString(0))
    assert(sources.map(_.split('/').last).sorted.toSeq == Seq("a.log.gz", "b.log.gz"),
      s"cleaned_logs sources: ${sources.toSeq}")
    assert(new java.io.File(s"$out/ip_geolocation_cache.parquet").isDirectory)
    assert(new java.io.File(b).isFile, "an input was overwritten")
  }

  test("entry points fail with a usage line on a wrong argument count") {
    val e1 = intercept[IllegalArgumentException](ElbPipelineCli.run(spark, Seq("only-in")))
    assert(e1.getMessage.contains("usage: ElbPipelineCli"))
    val e2 = intercept[IllegalArgumentException](ElbParseCli.run(spark, Nil))
    assert(e2.getMessage.contains("usage: ElbParseCli"))
    val e3 = intercept[IllegalArgumentException](graft.Verify.main(Array("sf-only")))
    assert(e3.getMessage.contains("usage: Verify"))
    val e4 = intercept[IllegalArgumentException](JobAudit.main(Array("sf-only")))
    assert(e4.getMessage.contains("usage: JobAudit"))
    val e5 = intercept[IllegalArgumentException](ScaleUpTestdata.main(Array("src", "dst")))
    assert(e5.getMessage.contains("usage: ScaleUpTestdata"))
  }
}
