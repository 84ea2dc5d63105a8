package perfbench

/** (row count, order-insensitive digest) of each batch query on the fixed
  * generated corpus, recorded at the commit that introduced the benchmark.
  * The digest is the sum over rows of pmod(xxhash64(all columns), Modulus).
  */
object Expected {
  val Modulus = 2147483647L

  val batch: Map[String, (Long, Long)] = Map(
    "embed_documents" -> (320000L, 343375033491251L),
    "dedup_exact" -> (4992L, 5390477294265L),
    "minhash_lsh_dedup" -> (5532L, 5910409847053L),
    "semantic_dedup" -> (2000L, 2108893755613L),
    "kneser_ney_bits" -> (5000L, 5352808967367L),
    "bigram_lm_bits" -> (5000L, 5349500434765L),
    "bm25_search" -> (10L, 13019546675L),
    "item_item_recs" -> (60L, 66056105095L),
    "q1_agg" -> (6L, 4826692491L),
    "q9_profit" -> (175L, 189630863953L)
  )
}
