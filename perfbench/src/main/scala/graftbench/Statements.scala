package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{call_function, col, split}

import graft.SparkEntry
import graft.sources.Tables
import graft.sql.EmdriveSession

/** One read statement: its template, the SQL text the session runs, and
  * the DuckDB oracle — the matching `SqlQueries.oracles` template with the
  * same seeded literals substituted in. */
final case class Stmt(template: String, text: String, oracle: String)

/** Seeded read statements over `documents`, `embeddings` and the simhash
  * table `doc_hashes`. Literal ranges are wide, so distinct plans outgrow
  * Spark's codegen cache. `next()` walks the fixed template `cycle`, so
  * every run has the same statement mix; "repeat" slots re-send the first
  * `RepeatPool` texts verbatim, in turn. Probes are drawn from the id
  * ranges of the `docs` documents and `vecs` embeddings. */
final class Statements(seed: Long, docs: Int, vecs: Int, cycle: Seq[String] = Nil) {
  import Statements.RepeatPool
  private val rnd = new scala.util.Random(seed)
  private val o = SparkEntry.oracleSql
  private val pool = scala.collection.mutable.ArrayBuffer.empty[Stmt]
  private val langs = Seq("en", "de", "es", "fr", "zh")

  def make(template: String): Stmt = template match {
    case "point" =>
      val id = rnd.nextInt(docs)
      Stmt(template, s"SELECT doc_id, source, n_chars FROM documents WHERE doc_id = $id;",
        Util.sub(o("q_sql_select"), "lang = 'en'" -> s"doc_id = $id"))
    case "agg" =>
      val (lang, c, lim) = (langs(rnd.nextInt(langs.size)), rnd.nextInt(400), 3 + rnd.nextInt(8))
      Stmt(template,
        s"SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars, AVG(n_chars) AS avg_chars " +
          s"FROM documents WHERE lang = '$lang' AND n_chars > $c " +
          s"GROUP BY source ORDER BY total_chars DESC, source LIMIT $lim;",
        Util.sub(o("q_sql_agg"), "WHERE lang = 'en'" -> s"WHERE lang = '$lang' AND n_chars > $c",
          "LIMIT 5" -> s"LIMIT $lim"))
    case "metric_search" =>
      val (p, r) = (rnd.nextInt(docs), rnd.nextInt(4))
      Stmt(template,
        s"SELECT doc_id, dist FROM metric_search(doc_hashes, doc_id, h, $p, $r) ORDER BY doc_id;",
        Util.sub(simhashOracle("q_sql_metric_search"), "WHERE doc_id = 0" -> s"WHERE doc_id = $p",
          "dist <= 2" -> s"dist <= $r"))
    case "metric_knn" =>
      val (p, k) = (rnd.nextInt(docs), 5 + rnd.nextInt(16))
      Stmt(template,
        s"SELECT h, dist FROM metric_knn(doc_hashes, doc_id, h, $p, $k) ORDER BY dist, h;",
        Util.sub(simhashOracle("q_sql_metric_knn"), "WHERE doc_id = 0" -> s"WHERE doc_id = $p",
          "LIMIT 10" -> s"LIMIT $k"))
    case "ann_search" =>
      val (p, k) = (rnd.nextInt(vecs), 5 + rnd.nextInt(16))
      Stmt(template,
        s"SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, $p, $k) " +
          "ORDER BY sim DESC, vec_id;",
        Util.sub(o("q_sql_ann_search"), "WHERE vec_id = 0" -> s"WHERE vec_id = $p",
          "a.vec_id LIMIT 10" -> s"a.vec_id LIMIT $k"))
    case "knn_cosine" =>
      val (p, k) = (rnd.nextInt(vecs), 5 + rnd.nextInt(16))
      Stmt(template,
        s"SELECT vec_id, sim FROM knn_cosine(embeddings, vec_id, embedding, $p, $k);",
        Util.sub(o("q_sql_knn"), "WHERE vec_id = 0" -> s"WHERE vec_id = $p",
          "LIMIT 10" -> s"LIMIT $k"))
    case "columns" =>
      Stmt(template,
        "SELECT table_name, column_name, ordinal, data_type, is_nullable, primary_key, " +
          "metric_key FROM system.columns WHERE table_name = 'documents';",
        s"SELECT * FROM (${o("q_sql_system_columns")}) WHERE table_name = 'documents'")
  }

  /** The Hamming oracles recompute the portable simhash of the whole
    * corpus in SQL (seconds per statement); every statement shares it, so
    * its CTE chain is read from a table the checker materializes once per
    * corpus (Statements.preludes) — the rest of the template is unchanged. */
  private def simhashOracle(key: String): String = {
    val t = o(key)
    val cut = t.indexOf(Statements.DistCte)
    require(t.startsWith("WITH ") && cut > 0, s"$key: unexpected oracle template")
    "WITH sh64 AS (SELECT * FROM __sh64),\n" + t.substring(cut)
  }

  private var pos = 0
  private var repeats = 0

  /** Next statement of the cycle: a verbatim repeat or a fresh seeded one. */
  def next(): Stmt = {
    val tp = cycle(pos % cycle.size)
    pos += 1
    if (tp == "repeat" && pool.nonEmpty) {
      repeats += 1
      pool(repeats % pool.size)
    }
    else {
      val s = make(if (tp == "repeat") cycle.head else tp)
      if (pool.size < RepeatPool) pool += s
      s
    }
  }
}

object Statements {
  val DistCte = "d AS (SELECT doc_id"
  val RepeatPool = 8

  /** Probe ranges: the corpus's document and embedding row counts. */
  def sizes(spark: SparkSession, corpus: String): (Int, Int) =
    (Tables.documents(spark, corpus).count().toInt,
      Tables.embeddings(spark, corpus).count().toInt)

  /** Tables the checker creates (once per corpus) before running any
    * oracle that names them. */
  def preludes: Map[String, String] = {
    val t = SparkEntry.oracleSql("q_sql_metric_search")
    val ctes = t.substring("WITH ".length, t.indexOf(DistCte)).trim.stripSuffix(",")
    Map("__sh64" -> s"CREATE TABLE __sh64 AS WITH $ctes SELECT * FROM sh64")
  }

  /** Register the read tables every SQL workload queries. */
  def register(es: EmdriveSession, spark: SparkSession, corpus: String): Unit = {
    es.register("documents", Tables.documents(spark, corpus))
    es.register("embeddings", Tables.embeddings(spark, corpus))
    es.register("doc_hashes", Tables.documents(spark, corpus).select(col("doc_id"),
      call_function("simhash64", split(col("text"), " ")).as("h")))
  }
}
