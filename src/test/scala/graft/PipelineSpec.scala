package graft

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Corpus
import graft.link.Linker
import graft.schema.KgSchema
import graft.triples.Triples

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  test("edge-family table: with the fused pair it names every declared edge type once, " +
    "and every family's frame carries the endpoints, the relation and its declared props") {
    import Pipeline.{EdgeFamily, EdgeInputs, FixtureInputs, edgeFamilies}
    val labels = edgeFamilies.map(_.label)
    assert(labels.distinct == labels, s"duplicates: ${labels.diff(labels.distinct)}")
    assert(labels.size == 38)
    assert((labels ++ Seq("ordered", "located_in")).toSet == KgSchema.edgeTypes.keySet)

    // Unpersisted inputs: building a frame analyzes its plan, and only the
    // builders that run actions themselves touch data.
    val canon = Corpus.canonicalIds(spark, sf)
    val docFacts = Corpus.docFacts(spark, sf)
    val mentions = Linker.mentions(
      Corpus.pages(spark, sf).select("url", "text"), Corpus.aliasDict(spark, sf))
    val in = EdgeInputs(
      Future.successful(FixtureInputs(spark, sf, Corpus.eventFacts(spark, sf), docFacts,
        Corpus.docLangFactsFrom(docFacts), Corpus.followedByEdges(spark, sf))),
      Future.successful(Corpus.lineFacts(spark, sf, Some(canon))),
      Future.successful((Triples.perPageEntitySets(mentions, canon), canon)))
    def built[I](f: EdgeFamily[I]): DataFrame =
      f.build(Await.result(f.needs.of(in), Duration.Inf))
    edgeFamilies.foreach { f =>
      val cols = built(f).columns.toSet
      val want = Seq("subject_id", "relation_label", "object_id") ++
        KgSchema.edgeTypes(f.label).props.keys
      assert(want.forall(cols), s"${f.label}: missing ${want.filterNot(cols)}")
    }
  }

  test("Pipeline.run that fails after its first persist restores the session: " +
    "conf back, nothing left cached") {
    // documents is first read by the shared docFacts frame, after the hot
    // dimension tables are persisted and before any edge family starts.
    val src = Files.createTempDirectory("sf_nodocs_")
    Files.list(Paths.get(sf)).iterator().asScala
      .filter(_.getFileName.toString != "documents.parquet")
      .foreach(p => Files.copy(p, src.resolve(p.getFileName)))
    // frames other suites left cached are not this run's
    spark.catalog.clearCache()
    val key = "spark.sql.constraintPropagation.enabled"
    val before = spark.conf.get(key)
    intercept[Exception] {
      Pipeline.run(spark, src.toString,
        Files.createTempDirectory("pipe_fail_").toString, partitions = 8)
    }
    assert(spark.conf.get(key) == before)
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }
}
