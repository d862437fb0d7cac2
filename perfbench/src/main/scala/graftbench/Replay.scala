package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.extract.HtmlText
import graft.fixtures.Corpus
import graft.link.Linker
import graft.merge.MergeSources
import graft.store.GraphStore
import graft.triples.Triples

/** The traced replay: the pipeline's stages called one public function at
  * a time, each forced to materialize inside its own span, so a span's
  * task CPU is that layer's own work. Inputs of a layer are materialized
  * by the layers before it. The replay runs serially on one thread, so
  * every job belongs to the innermost span open when it was submitted. */
object Replay {

  /** The materialized inputs the edge families are built from. */
  final case class Inputs(
      spark: SparkSession, sf: String, canon: DataFrame, lf: DataFrame,
      ef: DataFrame, dof: DataFrame, dlf: DataFrame, fb: DataFrame,
      pageSets: DataFrame, evidence: DataFrame)

  /** The edge projection the pipeline writes for a family: the endpoints,
    * the relation and the named columns folded into a string map. */
  def propsOf(df: DataFrame, keys: String*): DataFrame = {
    val m =
      if (keys.isEmpty) map().cast("map<string,string>")
      else map(keys.flatMap(k => Seq(lit(k), col(k).cast("string"))): _*)
    df.select(col("subject_id"), col("relation_label"), col("object_id"),
      m.as("properties"))
  }

  /** The 40 edge families of the graph schema, in the pipeline's order,
    * each with the public call(s) that build its rows. The first two feed
    * the evidence/ledger fusion (`merge.fuse`) instead of the edges union:
    * `ordered` is the order ledger (its web half is the page evidence),
    * `located_in` comes from the page evidence alone. The other 38 are the
    * projections the pipeline unions into the edges stage. */
  val families: Seq[(String, Inputs => DataFrame)] = Seq(
    "ordered" -> (i => Corpus.ledgerFrom(i.lf)),
    "located_in" -> (i => i.evidence.filter(col("relation_label") === "located_in")),
    "placed" -> (i => propsOf(Corpus.placedEdges(i.spark, i.sf), "year")),
    "contains" -> (i => propsOf(Corpus.containsFrom(i.lf), "quantity", "extendedprice")),
    "of_type" -> (i => propsOf(Corpus.ofTypeEdges(i.spark, i.sf))),
    "performed" -> (i => propsOf(Corpus.performedFrom(i.ef), "n_events", "value_milli")),
    "written_in" -> (i => propsOf(Corpus.writtenInFrom(i.dof))),
    "from_source" -> (i => propsOf(Corpus.fromSourceFrom(i.dof))),
    "fulfills" -> (i => propsOf(Corpus.fulfillsFrom(i.lf), "n_lines", "qty_milli")),
    "supplies" -> (i => propsOf(Corpus.supplyFrom(i.lf), "n_lines")),
    "in_region" -> (i => propsOf(Corpus.inRegionEdges(i.spark, i.sf))),
    "branded_as" -> (i => propsOf(Corpus.brandedAsEdges(i.spark, i.sf))),
    "in_segment" -> (i => propsOf(Corpus.inSegmentEdges(i.spark, i.sf))),
    "from_nation" -> (i => propsOf(Corpus.fromNationEdges(i.spark, i.sf))),
    "rated" -> (i => propsOf(Corpus.ratedFrom(i.lf), "med_qty_milli", "n_srcs")),
    "co_ordered_with" -> (i => propsOf(Triples.coOrderedFromSets(i.pageSets, i.canon)
      .withColumn("sources", lit("web")), "sources")),
    "near_dup_of" -> (i => propsOf(graft.textops.DedupOps.minhashNearDupPairsFromSigs(i.dof)
      .select(concat(lit("DOC:"), col("id1")).as("subject_id"),
        lit("near_dup_of").as("relation_label"),
        concat(lit("DOC:"), col("id2")).as("object_id"),
        col("common"), col("size1"), col("size2")), "common", "size1", "size2")),
    "shares_part" -> (i => propsOf(Corpus.sharesPartFrom(i.lf), "n_common")),
    "co_purchased_with" -> (i => propsOf(Corpus.coPurchasedFrom(i.lf), "n_common")),
    "cites" -> (i => propsOf(Corpus.citesFrom(i.dof), "fp")),
    "touched" -> (i => propsOf(Corpus.touchedEdges(i.spark, i.sf), "n_events", "value_milli")),
    "peer_of" -> (i => propsOf(Corpus.peerOfEdges(i.spark, i.sf))),
    "next_order" -> (i => propsOf(Corpus.nextOrderEdges(i.spark, i.sf), "gap_days")),
    "returned" -> (i => propsOf(Corpus.returnedFrom(i.lf), "n_returns", "qty_milli")),
    "ships_to" -> (i => propsOf(Corpus.shipsToFrom(i.lf), "n_orders")),
    "similar_to" -> (i => propsOf(Corpus.similarToFrom(i.dof), "hamming")),
    "followed_by" -> (i => propsOf(i.fb, "n_times")),
    "located_in_region" -> (i => propsOf(Corpus.locatedInRegionEdges(i.spark, i.sf))),
    "best_supplied_by" -> (i => propsOf(Corpus.bestSupplierFrom(i.lf), "qty_milli")),
    "closest_to" -> (i => propsOf(Corpus.closestPartEdges(i.spark, i.sf))),
    "in_family" -> (i => propsOf(Corpus.inFamilyEdges(i.spark, i.sf))),
    "variant_of" -> (i => propsOf(Corpus.variantOfEdges(i.spark, i.sf), "family")),
    "bundle_with" -> (i => propsOf(Corpus.bundleWithFrom(i.lf), "n_common", "lift_milli")),
    "regulates" -> (i => propsOf(Corpus.regulatesFrom(i.fb), "mode", "lift_milli")),
    "prefers" -> (i => propsOf(Corpus.prefersFrom(i.ef), "n_events", "share_milli")),
    "bought_from" -> (i => propsOf(Corpus.boughtFromFrom(i.lf), "n_orders", "days_span")),
    "representative_order" ->
      (i => propsOf(Corpus.representativeOrderEdges(i.spark, i.sf), "totalprice_milli")),
    "charged_with" -> (i => propsOf(Corpus.chargedWithFrom(i.lf), "n_items", "revenue_milli")),
    "dominant_lang" -> (i => propsOf(Corpus.dominantLangFrom(i.dlf), "n_docs", "share_milli")),
    "handles" -> (i => propsOf(Corpus.handlesFrom(i.lf), "n_parts", "brands")))

  /** Fused families that are not members of the edges union themselves. */
  private val fusionInputs = Set("ordered", "located_in")

  /** Page amplification as the pipeline applies it: `mult` replicas of
    * each page with distinct urls and identical text. */
  def amplify(pages: DataFrame, mult: Int): DataFrame =
    if (mult <= 1) pages
    else pages
      .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
      .select(concat(col("url"), lit("#"), col("rep")).as("url"),
        col("warc_ts"), col("html"), col("text"), col("lang"))

  final case class Result(counts: Map[String, Long], commitBytes: Long, storeFiles: Long)

  private def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Union as the pipeline folds it: a balanced tree of `unionByName`. */
  private def unionTree(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else unionTree(dfs.grouped(2).map(g =>
      if (g.size == 2) g(0).unionByName(g(1)) else g(0)).toSeq)

  def run(spark: SparkSession, sf: String, storeBase: String, partitions: Int,
          mult: Int, rec: SpanRecorder): Result = {
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(name: String, r: (DataFrame, Long)): DataFrame = {
      counts(name) = r._2; cached += r._1; r._1
    }
    // Commit a materialized frame and wait for its lineage: the commit
    // span covers the data write, the child span the lineage read-back.
    def commit(stage: String, df: DataFrame, parts: Seq[String] = Nil): DataFrame =
      rec("store.commit") {
        GraphStore.commit(spark, storeBase, stage, df, parts, inputFp = s"replay;$stage",
          lineageAsync = true)
        rec("store.lineage_wait")(GraphStore.awaitPending())
        GraphStore.readLatest(spark, storeBase, stage).get
      }

    // Pipeline.run plans with constraint propagation off; so does the replay.
    val prevCP = spark.conf.get("spark.sql.constraintPropagation.enabled")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try rec("replay") {
      val canon = {
        val df = rec("canon")(keep("canon.ids", persisted(Corpus.canonicalIds(spark, sf))))
        commit("canonical_ids", df)
        df
      }

      val extracted = {
        val df = rec("extract")(keep("extract.pages", persisted(
          amplify(Corpus.pages(spark, sf).repartition(partitions, xxhash64(col("url"))), mult)
            .select(col("url"), col("warc_ts"), col("lang"),
              HtmlText.htmlText(col("html")).as("text"),
              xxhash64(col("text")).as("ref_hash"))
            .withColumn("text_hash", xxhash64(col("text"))))))
        commit("extracted", df)
      }
      counts("extract.audit_mismatches") =
        extracted.filter(col("text_hash") =!= col("ref_hash")).count()

      val mentions = {
        val df = rec("link")(keep("link.mentions", persisted(
          Linker.mentions(extracted.select("url", "text"), Corpus.aliasDict(spark, sf)))))
        commit("mentions", df)
      }

      val pageSets = {
        val df = rec("triples.pagesets")(keep("triples.pagesets",
          persisted(Triples.perPageEntitySets(mentions, canon))))
        commit("pagesets", df)
      }
      val salts =
        if (counts("extract.pages") >= Triples.SaltPageThreshold) Triples.DefaultEvidenceSalts
        else 1
      rec("triples.extract") {
        val df = keep("triples.triples", persisted(Triples.extractFromSets(pageSets, canon)))
        commit("triples", df)
      }
      val evidence = rec("triples.evidence")(keep("triples.evidence",
        persisted(Triples.evidenceFromSets(pageSets, canon, salts = salts))))

      val inputs = rec("fixtures.shared_facts") {
        Seq("orders", "customer", "part", "events").foreach(n =>
          keep(s"fixtures.$n", persisted(Corpus.table(spark, sf, n))))
        val lf = keep("fixtures.line_facts", persisted(Corpus.lineFacts(spark, sf, Some(canon))))
        val ef = keep("fixtures.event_facts", persisted(Corpus.eventFacts(spark, sf)))
        val dof = keep("fixtures.doc_facts", persisted(Corpus.docFacts(spark, sf)))
        val dlf = keep("fixtures.doc_lang_facts", persisted(Corpus.docLangFactsFrom(dof)))
        Inputs(spark, sf, canon, lf, ef, dof, dlf, null, pageSets, evidence)
      }

      val nodes = {
        val df = rec("triples.nodes") {
          val plain = Seq(
            Corpus.orderNodes(spark, sf), Corpus.documentNodesFrom(inputs.dof),
            Corpus.ptypeNodes(spark, sf), Corpus.userNodesFrom(inputs.ef),
            Corpus.eventTypeNodesFrom(inputs.ef), Corpus.languageNodesFrom(inputs.dlf),
            Corpus.sourceNodesFrom(inputs.dlf), Corpus.supplierNodes(spark, sf),
            Corpus.regionNodes(spark, sf), Corpus.brandNodes(spark, sf),
            Corpus.segmentNodes(spark, sf))
            .map(_.withColumn("props_arr", map().cast("map<string,array<string>>"))
              .withColumn("embedding", lit(null).cast("array<float>")))
            .reduce(_ unionByName _)
          keep("triples.nodes", persisted(
            Triples.nodesTyped(Corpus.relationalEntityNodes(spark, sf), Corpus.nodeAttrs(spark, sf))
              .unionByName(plain)
              .withColumn("bucket", pmod(xxhash64(col("id")), lit(32)))
              .repartition(32, col("bucket"))))
        }
        commit("nodes", df, Seq("bucket"))
      }

      // Each family is materialized in its own span as the projection the
      // pipeline writes, so no column of its work is pruned away.
      // followed_by is also the regulates input: its rows are materialized
      // once, in a family span of their own, and reused as the pipeline does.
      val fb = rec("family.followed_by")(keep("family.followed_by.rows",
        persisted(Corpus.followedByEdges(spark, sf))))
      val in = inputs.copy(fb = fb)
      val built = families.map { case (name, build) =>
        name -> rec(s"family.$name")(keep(s"family.$name", persisted(build(in))))
      }.toMap

      val fused = rec("merge.fuse")(keep("merge.fused", persisted(
        MergeSources.mergeAll(
          Seq(evidence, built("ordered")),
          keys = Seq("subject_id", "relation_label", "object_id"),
          rules = Seq(MergeSources.PipeSetUnion("sources"),
            MergeSources.PipeSetUnion("evidence")))
          .withColumn("properties", map(
            lit("sources"), col("sources"),
            lit("evidence"), col("evidence"),
            lit("n_pages"), coalesce(col("n_pages"), lit(0L)).cast("string"),
            lit("n_lines"), coalesce(col("n_lines"), lit(0L)).cast("string")))
          .select(col("subject_id"), col("relation_label"), col("object_id"),
            col("properties")))))

      // The edges stage: the union of the fused and the 38 other families,
      // restricted to edges whose endpoints are committed nodes.
      val edges = rec("triples.edges") {
        val ids = nodes.select(col("id"))
        val union = unionTree(fused +: families.collect {
          case (name, _) if !fusionInputs(name) => built(name) })
        keep("triples.edges", persisted(union
          .join(ids.withColumnRenamed("id", "subject_id"), Seq("subject_id"), "left_semi")
          .join(ids.withColumnRenamed("id", "object_id"), Seq("object_id"), "left_semi")
          .withColumn("bucket", pmod(xxhash64(col("subject_id")), lit(32)))
          .repartition(32, col("bucket"))))
      }
      commit("edges", edges, Seq("bucket"))
    } finally {
      spark.conf.set("spark.sql.constraintPropagation.enabled", prevCP)
      cached.foreach(_.unpersist(true))
    }
    Result(counts.toMap, Store.bytes(storeBase), Store.fileCount(storeBase))
  }
}
