package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the one session posture: every main builds its session through
  * [[Session]], every tweet stream runs through [[graft.streaming.TweetStream.start]],
  * and the core count that sizes its shuffles is parsed from the master
  * string or refused. */
class SessionSpec extends AnyFunSuite {

  private lazy val mainSources: List[Path] = {
    val s = Files.walk(Paths.get("src", "main"))
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
      finally s.close()
    assert(files.nonEmpty, "source scan found no Scala files under src/main")
    files
  }

  /** Every `src/main` line containing `token`, as (file name, line). */
  private def callSites(token: String): Seq[(String, Int)] =
    mainSources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(token) => f.getFileName.toString -> (i + 1)
      }
    }

  test("src/main has exactly one SparkSession builder, in Session.scala") {
    val hits = callSites("SparkSession.builder")
    assert(hits.map(_._1) == Seq("Session.scala"),
      s"builder call sites: ${hits.map { case (f, l) => s"$f:$l" }.mkString(", ")}")
  }

  test("src/main has exactly one stream job, TweetStream.start") {
    val hits = callSites(".writeStream")
    assert(hits.map(_._1) == Seq("TweetStream.scala"),
      s"writeStream call sites: ${hits.map { case (f, l) => s"$f:$l" }.mkString(", ")}")
  }

  test("src/main spells out no nested transform-over-slice pair generator") {
    // every (i < j) pair explode goes through Dedup.memberPairs: the nested
    // HOF form is CodegenFallback and builds each bucket's pair array in
    // interpreted code before exploding it
    val hits = callSites("transform(slice(")
    assert(hits.isEmpty,
      s"nested pair generators: ${hits.map { case (f, l) => s"$f:$l" }.mkString(", ")}")
  }

  test("src/main writes no 4-line SQL run out twice") {
    // a chain two queries need is one SQL builder, like its engine kernel:
    // every 4 consecutive non-blank `|`-margin string lines, whitespace
    // normalised, occur at one site only
    val runs = mainSources.flatMap { f =>
      val blocks = Files.readAllLines(f).asScala.map(_.trim).zipWithIndex
        .foldLeft(Vector(Vector.empty[(String, Int)])) {
          case (acc, (t, i)) if t.startsWith("|") =>
            val sql = t.drop(1).trim.split("\\s+").mkString(" ")
            if (sql.isEmpty) acc else acc.init :+ (acc.last :+ (sql -> (i + 1)))
          case (acc, _) => if (acc.last.isEmpty) acc else acc :+ Vector.empty
        }
      blocks.flatMap(_.sliding(4).filter(_.size == 4))
        .map(w => w.map(_._1) -> s"${f.getFileName}:${w.head._2}")
    }
    val twice = runs.groupBy(_._1).values.filter(_.size > 1).map(_.map(_._2)).toSeq
    if (twice.nonEmpty)
      fail(s"SQL written out twice in ${twice.flatten.map(_.takeWhile(_ != ':')).distinct.sorted.mkString(", ")}; " +
        s"4-line runs (first line of each copy): ${twice.map(_.mkString(" = ")).sorted.mkString("; ")}")
  }

  test("core counts parse from local[N], local[*] and local-cluster[w,c,m]") {
    assert(Session.cores("local[4]") == 4)
    assert(Session.cores("local[*]") == Runtime.getRuntime.availableProcessors())
    assert(Session.cores("local-cluster[2,8,8192]") == 16)
  }

  test("a malformed master fails loudly") {
    Seq("local[x]", "local[0]", "local", "local-cluster[2,8]", "yarn", "")
      .foreach { m =>
        val e = intercept[IllegalArgumentException](Session.cores(m))
        assert(e.getMessage.contains(s"'$m'"))
      }
  }
}
