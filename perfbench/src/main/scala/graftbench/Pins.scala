package graftbench

/** Pinned outputs per workload: counts, the store's node and edge table
  * hashes, and the content hash of every headline operator's result.
  * They hold for every seed: the seed only permutes the input rows. */
object Pins {

  /** Outputs of the sf0.001 tables that the page amplification does not
    * change: it multiplies the pages, and with them the evidence urls and
    * page counts in the edge properties; the operators ignore it. */
  private val sf0001 = Map(
    "edges" -> "38632",
    "nodes" -> "2341",
    "audit_mismatches" -> "0",
    "nodes_hash" -> "2341:59405bed227aa3d4:683328c8c7637d35",
    "resume_snapshots" -> "unchanged",
    "op.q_triples" -> "4154:4ab02c928f98de6d:fb25e3e4cf319096",
    "op.q_mentions" -> "8767:8617998e7ffd6b23:d8501ee12fcb4c07",
    "op.q_cc" -> "200:7e18ed82b07db067:e932bf79546862e4",
    "op.q_merge_edges" -> "1905:b8256707e14b479b:22490554022ec8c5",
    "op.q_pair_dedup" -> "1031:458b7e4960218ecd:f912e9d7e0c5e9ab",
    "op.q_top1_per_group" -> "150:d06e16ca02b2237a:bd56bd0c0f8b69d4",
    "op.q_set_union" -> "1473:260d201268abba91:b698ba5ef461cc46",
    "op.q_dedup_exact" -> "500:b25abb43d18af30f:7020de1988397935",
    "op.q_ngram_jaccard" -> "148:2136bcb12e442a6f:798312cabcc12c62",
    "op.q_minhash_neardup" -> "148:21a1e36e4d226c1b:d7196c3ab027050c",
    "op.q_knn_cosine" -> "500:f9abde69a57900a1:77c3aab0fc0eebfc",
    "op.q_knn_lsh" -> "2500:7a6677141f847e30:4d74077419d5339b",
    "op.q_knn_ivf" -> "2500:4c17a65187fb3c93:dd76f32361db52ea",
    "op.q_doc_stats" -> "500:6e679c96f447cfb2:d2fda495df005de7",
    "op.q_events_hourly" -> "868:e684ba1b2114a2f6:0c82fadc8a71edd5",
  )

  val values: Map[String, Map[String, String]] = Map(
    "build_sf0.001" -> (sf0001 ++ Map(
      "pages" -> "1500",
      "edges_hash" -> "38632:752d58891b2ebb61:b7a54e91fd836b3c")),
    "pages_x64_sf0.001" -> (sf0001 ++ Map(
      "pages" -> "96000",
      "edges_hash" -> "38632:48c0c1717af5eb3b:6467a1a21384b1bd")))
}
