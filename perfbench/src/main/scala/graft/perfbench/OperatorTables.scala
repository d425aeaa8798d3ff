package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Seeded stand-ins for the tables the operator_mix queries read
  * (`documents`, `embeddings`, `lineitem`, `customer`), with the column
  * names and types of the repo's test tables and one parquet file each,
  * built from Spark expressions only.
  *
  * Documents are 8–100 words drawn from a 31-word vocabulary, so shingle
  * sets overlap heavily (the dedup and pair-join queries' load), with
  * one exact duplicate per 50 documents; doc ids are dense from 0 because
  * the queries plant their own structure on `doc_id % k`. Embeddings are
  * unit 64-d vectors around 10 seeded centroids (the ANN queries'
  * clusters).
  */
final case class OperatorTables(seed: Long, docs: Int, vectors: Int, lines: Int, customers: Int) {

  private def u(salt: Int, parts: String*): String =
    s"((pmod(xxhash64(${seed}L, $salt, ${parts.mkString(", ")}), 1000003) + 0.5) / 1000003.0)"

  private def h(salt: Int, n: Int, parts: String*): String =
    s"pmod(xxhash64(${seed}L, $salt, ${parts.mkString(", ")}), $n)"

  def write(spark: SparkSession, dir: String): Unit = {
    val vocab = Seq("a", "the", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
      "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "value", "vector", "window", "index")
      .map(w => s"'$w'").mkString("array(", ", ", ")")
    spark.range(docs).selectExpr(
        "id as doc_id",
        "if(id % 50 = 7, id - 7, id) as src")
      .selectExpr("doc_id",
        s"""array_join(transform(sequence(1, cast(8 + ${h(1, 93, "src")} as int)),
           |  k -> element_at($vocab, cast(${h(2, 31, "src", "k")} + 1 as int))), ' ') as text""".stripMargin,
        s"element_at(array('en', 'en', 'en', 'zh', 'es', 'fr', 'de'), cast(${h(3, 7, "doc_id")} + 1 as int)) as lang",
        s"concat('src', ${h(4, 20, "doc_id")}) as source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) as bigint) as n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    // Box–Muller normals around per-label centroids, then L2-normalised
    val gauss = (salt: Int, a: String, b: String) =>
      s"sqrt(-2.0 * ln(${u(salt, a, b)})) * cos(2.0 * pi() * ${u(salt + 1, a, b)})"
    spark.range(vectors).selectExpr("id as vec_id", s"cast(${h(5, 10, "id")} as int) as label")
      .selectExpr("vec_id", "label",
        s"transform(sequence(0, 63), j -> ${gauss(6, "label", "j")} + 0.35 * ${gauss(8, "vec_id", "j")}) as raw")
      .selectExpr("vec_id", "label",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (acc, y) -> acc + y * y)) as float)) as embedding")
      .select("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    spark.range(lines).selectExpr(
        "id div 4 as l_orderkey",
        s"${h(10, 2000, "id")} as l_partkey",
        s"${h(11, 100, "id")} as l_suppkey",
        "cast(id % 4 + 1 as int) as l_linenumber",
        s"cast(1 + ${h(12, 50, "id")} as double) as l_quantity",
        s"round(cast(900 + ${h(13, 100000, "id")} as double), 2) as l_extendedprice",
        s"cast(${h(14, 11, "id")} as double) / 100 as l_discount",
        s"cast(${h(15, 9, "id")} as double) / 100 as l_tax",
        s"element_at(array('A', 'N', 'R'), cast(${h(16, 3, "id")} + 1 as int)) as l_returnflag",
        s"element_at(array('F', 'O'), cast(${h(17, 2, "id")} + 1 as int)) as l_linestatus",
        s"timestamp_seconds(694224000 + ${h(18, 2500, "id")} * 86400) as l_shipdate")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")

    spark.range(customers).selectExpr(
        "id as c_custkey",
        "concat('Customer#', lpad(cast(id as string), 9, '0')) as c_name",
        s"cast(${h(20, 25, "id")} as int) as c_nationkey",
        s"round(cast(${h(21, 1000000, "id")} as double) / 100 - 999.99, 2) as c_acctbal",
        s"element_at(array('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), cast(${h(22, 5, "id")} + 1 as int)) as c_mktsegment")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
  }
}
