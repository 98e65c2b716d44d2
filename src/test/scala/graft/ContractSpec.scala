package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for SparkEntry: the maps the correctness gate
  * consumes must stay structurally sound — `Map ++` merging would silently
  * DROP a query if two modules reused a name, and an oracle keyed to a
  * misspelled query name would silently never run. */
class ContractSpec extends AnyFunSuite {

  private val modules: Seq[(String, Map[String, _], Map[String, String])] = Seq(
    ("Relational", operators.Relational.queries, operators.Relational.oracle),
    ("Rag", operators.Rag.queries, operators.Rag.oracle),
    ("TextAnalysis", operators.TextAnalysis.queries, operators.TextAnalysis.oracle),
    ("Dedup", operators.Dedup.queries, operators.Dedup.oracle),
    ("Similarity", operators.Similarity.queries, operators.Similarity.oracle),
    ("EventsOps", operators.EventsOps.queries, operators.EventsOps.oracle),
    ("Multimodal", operators.Multimodal.queries, operators.Multimodal.oracle),
    ("Pipelines", operators.Pipelines.queries, operators.Pipelines.oracle),
    ("Ingest", operators.Ingest.queries, operators.Ingest.oracle),
    ("Lakehouse", operators.Lakehouse.queries, operators.Lakehouse.oracle))

  test("no query name collides across modules (Map ++ would drop one silently)") {
    val all = modules.flatMap { case (m, q, _) => q.keys.map(_ -> m) }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle key names an existing query; every query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles keyed to no query: ${o.diff(q)}")
    assert((q -- o).isEmpty, s"queries missing an oracle: ${q -- o}")
  }

  test("README's query count equals SparkEntry.queries.size (no doc drift)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = """(\d+) named queries""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md lost its 'N named queries' line")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README says '${m.get.group(1)} named queries' but SparkEntry has " +
        s"${SparkEntry.queries.size} — update README.md")
  }

  test("session memos and identity-hash cache keys live only in sources/Memo.scala") {
    // a WeakHashMap keyed on SparkSession whose values hold DataFrames
    // never collects (each value pins its own key), and an
    // identityHashCode key can be shared by two sessions: both belong
    // in graft.sources.Memo, which retires stopped sessions explicitly
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val memoFile = Paths.get("src/main/scala/graft/sources/Memo.scala")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != memoFile).toList
    finally walk.close()
    assert(sources.size > 50, "source scan found no sources: wrong working directory?")
    val weakKey = """WeakHashMap\s*\[\s*SparkSession\s*,""".r
    // the WeakHashMap's value type: the text up to its closing bracket
    def valueType(src: String, from: Int): String = {
      var depth = 1; var i = from
      while (i < src.length && depth > 0) {
        if (src(i) == '[') depth += 1 else if (src(i) == ']') depth -= 1
        i += 1
      }
      src.substring(from, i)
    }
    val offenders = sources.flatMap { p =>
      val src = Files.readString(p)
      val weak = weakKey.findAllMatchIn(src).map(m => valueType(src, m.end))
        .filter(v => v.contains("DataFrame") || v.contains("Dataset"))
        .map(_ => s"$p: WeakHashMap[SparkSession, DataFrame...] memo")
      val idHash =
        if (src.contains("identityHashCode")) Seq(s"$p: identityHashCode key")
        else Nil
      weak ++ idHash
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the row-identity file key lives only in sources/RowDeletes.scala") {
    // two copies of the URI → join-key expression that disagree on a
    // path with '+', '%' or a space make deleted rows come back with no
    // error: every reader and writer of the key goes through RowDeletes
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val keyFile = Paths.get("src/main/scala/graft/sources/RowDeletes.scala")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != keyFile).toList
    finally walk.close()
    assert(sources.size > 50, "source scan found no sources: wrong working directory?")
    val offenders = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      banned <- Seq("_metadata.file_path", "^file:/+") if line.contains(banned)
    } yield s"$p:${i + 1}: $banned"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("query names follow the qNN_name convention with unique numbers") {
    val pat = """q(\d+)_[a-z0-9_]+""".r
    val nums = SparkEntry.queries.keys.toSeq.map {
      case pat(n) => n.toInt
      case other  => fail(s"bad query name: $other")
    }
    assert(nums.distinct.size == nums.size,
      s"duplicate query numbers: ${nums.groupBy(identity).filter(_._2.size > 1).keys}")
  }
}
