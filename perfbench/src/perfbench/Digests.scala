package perfbench

/** Result digests of the `operator_batch` queries over the sf0.01 fixture
  * in perfbench/data, pinned by perfbench/pin_digests.py after every query
  * matched its DuckDB oracle on those tables. */
object Digests {
  val pinned: Map[String, String] = Map(
    "q01_agg_pricing" -> "6:5858941978:-4990682552123613733",
    "q02_join_agg_topk" -> "10:11445506775:5323826652020501488",
    "q03_star_join" -> "25:22456730305:2885852455080202158",
    "q07_window_rank" -> "2998:3204364634642:-3749210101345433108",
    "q21_count_distinct" -> "3:3005010676:5473774230130949923",
    "p01_exact_dedup" -> "500:546942239371:4941188364393819906",
    "p05_cosine_topk" -> "10:11871322369:7029523968492568511",
    "p07_minhash_lsh" -> "25:28798193467:8123397489403972755",
    "p12_ann_lsh" -> "10:8157050392:2046786739860501652",
    "p14_dup_clusters" -> "60:65375160399:7081057826788567442",
    "p18_incremental_dedup" -> "6:6246493356:-8517055800988753015",
    "p27_token_budget" -> "193:203361043955:1322361333232536406",
    "p42_bpe_budget" -> "125:130686774333:-8219543696040691377",
    "p46_tfidf_terms" -> "1500:1659538222120:-2807920087460112244")
}
