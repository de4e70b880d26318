package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards on the engine's shape: sessions come from one
  * factory, and `src/main` holds no main beyond the listed entry points
  * (README "Entry points"). Scans the source text; starts no Spark. */
class SourceGuardSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  // split so this file does not match itself
  private val builderCall = ("SparkSession" + """\s*\.\s*builder\s*\(\s*\)""").r

  test("session builders: only GraftSession.scala calls the SparkSession builder") {
    val sites = (sources("src/main") ++ sources("src/test")).flatMap { case (p, text) =>
      builderCall.findAllIn(text).map(_ => p.getFileName.toString)
    }
    assert(sites == Seq("GraftSession.scala"),
      s"build sessions with GraftSession.builder(master, shufflePartitions); found: $sites")
  }

  test("link-signal constants: the scheme screen and the IDN vocabulary are each defined once") {
    val main = sources("src/main")
    def sites(literal: String) = main.flatMap { case (p, text) =>
      text.linesIterator.filter(_.contains(literal)).map(_ => p.getFileName.toString)
    }
    val schemeLike = "\"^[A-Za-z][A-Za-z0-9+.\\\\-]*:\""
    val idnVocab = "Seq(\"bücher\" -> \"xn--bcher-kva\")"
    val found = Map(
      "WebGraphOps.SchemeLike" -> sites(schemeLike), "CorpusOps.DuckIdn" -> sites(idnVocab))
    assert(found == Map(
      "WebGraphOps.SchemeLike" -> Seq("WebGraphOps.scala"),
      "CorpusOps.DuckIdn" -> Seq("CorpusOps.scala")), s"found: $found")
  }

  // Hadoop's recursive `listFiles` and `listLocatedStatus` copy every
  // status into a LocatedFileStatus, and the copy loads the file's
  // permission: on the local filesystem without native IO that starts
  // one subprocess per file (about 1 s per 256 poll files on a 4-core
  // Linux host). Walk with `listStatus`, or read the sizes from a file
  // index Spark already built.
  private val forkingListing =
    ("""\blistFiles\s*\([^()]*,\s*true\s*\)|\blistLocated""" + "Status").r

  test("listings: src/main makes no recursive listFiles or listLocatedStatus call") {
    val sites = sources("src/main").flatMap { case (p, text) =>
      forkingListing.findAllIn(text).map(m => s"${p.getFileName}: $m")
    }
    assert(sites.isEmpty, s"found: $sites")
  }

  // GraftSession turns off per-session artifact isolation so that every
  // session of a context shares one task classloader and one codegen
  // cache. That is only safe while no session adds artifacts of its own:
  // a jar or class added to one session would then reach all of them.
  private val artifactCall =
    ("""\baddArtifacts?\s*\(|\baddJar\s*\(|(?i)"\s*add\s+jars?\b""").r

  test("session artifacts: src/main adds none (addArtifact, addJar, ADD JAR)") {
    val sites = sources("src/main").flatMap { case (p, text) =>
      artifactCall.findAllIn(text).map(m => s"${p.getFileName}: $m")
    }
    assert(sites.isEmpty, s"found: $sites")
  }

  private val allowedMains = Set(
    "Bench", "BenchAB", "Verify", "DayScale", "ScaleBench", "AdaptiveGate",
    "PlanDump", "FaultProbe", "StreamFaultProbe", "SpillProbe", "WindowSpillProbe")

  test("main objects in src/main equal the entry-point allow-list") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = sources("src/main").flatMap { case (_, text) =>
      // a main belongs to the nearest object declared before it
      """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.last
      }
    }.toSet
    assert(mains == allowedMains,
      s"unlisted: ${mains -- allowedMains}; missing: ${allowedMains -- mains}")
  }
}
