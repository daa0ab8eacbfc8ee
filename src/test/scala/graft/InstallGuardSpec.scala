package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source audit over `src/main`: the engine has ONE session recipe
  * (`Engine.session`) and ONE install path (`Engine.install` over the
  * `GraftExtensions` table). A second builder, a raw rule assignment or
  * a function registration anywhere else would let a query's session
  * depend on which harness or operator ran first — this spec fails on
  * any of them. It also keeps standing artifacts on ONE freshness
  * protocol (`StandingIndex.ensureArtifact`/`refresh`) with ONE
  * signature function (`StandingIndex.inputSig`), snapshot
  * layouts on ONE layout value (`SnapshotStore.layoutOf`), and snapshot
  * file pruning on ONE file predicate (`SnapshotStore.FileFilter`).
  */
class InstallGuardSpec extends AnyFunSuite {

  private val sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  private def text(p: Path): String = Files.readString(p)

  /** `file:line` of every match of `pattern` outside the `allowed` files. */
  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.filterNot(p => allowed(p.getFileName.toString)).flatMap { p =>
      val t = text(p)
      pattern.r.findAllMatchIn(t).map { m =>
        s"$p:${t.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }

  /** The allowed file must itself match, or the pattern is vacuous. */
  private def matchesIn(pattern: String, file: String): Boolean =
    sources.filter(_.getFileName.toString == file)
      .exists(p => pattern.r.findFirstIn(text(p)).nonEmpty)

  private val Builder = """SparkSession\s*\.\s*builder"""
  private val LatchValue = """\bemptyDataFrame\b"""
  private val RuleAssign = """extra(?:Optimizations|Strategies)\s*(?:\+\+|:\+|\+)?=(?!=)"""
  private val LayoutColumn = """"(?:bucket_col|part_col|cat_col)""""
  private val PruningStat = """"(?:min_cat|max_cat|min_chars|max_chars)"|\bCatOrder\b"""
  private val KeyProbe = """Arrays\s*\.\s*binarySearch"""
  private val FreshnessSig =
    """\bdef\s+\w*Sig\s*\(|\)\s*:\s*\(Long,\s*Long\)\s*=|\bwithLayout\s*\("""
  private val FunctionRegistration =
    """\b(?:createOrReplaceTempFunction|registerFunction)\s*\(|\budf\s*\.\s*register\s*\("""

  test("SparkSession.builder appears only in Engine.session and ExtensionsDemo") {
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    assert(matchesIn(Builder, "Engine.scala"))
    val bad = offenders(Builder, Set("Engine.scala", "ExtensionsDemo.scala"))
    assert(bad.isEmpty, s"build sessions with Engine.session:\n${bad.mkString("\n")}")
  }

  test("experimental rule and strategy lists are assigned only in Engine.scala") {
    assert(matchesIn(RuleAssign, "Engine.scala"))
    val bad = offenders(RuleAssign, Set("Engine.scala"))
    assert(bad.isEmpty, s"add rules to GraftExtensions' table:\n${bad.mkString("\n")}")
  }

  test("SQL functions are registered only by Engine.install") {
    assert(matchesIn(FunctionRegistration, "Engine.scala"))
    val bad = offenders(FunctionRegistration, Set("Engine.scala"))
    assert(bad.isEmpty, s"add functions to GraftExtensions' table:\n${bad.mkString("\n")}")
  }

  test("per-session artifact latches live only in StandingIndex.ensureArtifact") {
    // an `emptyDataFrame` sentinel anywhere else is a hand-written
    // per-family latch; new artifacts go through ensureArtifact
    assert(matchesIn(LatchValue, "StandingIndex.scala"))
    val bad = offenders(LatchValue, Set("StandingIndex.scala"))
    assert(bad.isEmpty,
      s"use StandingIndex.ensureArtifact for standing artifacts:\n${bad.mkString("\n")}")
  }

  test("freshness signatures are composed only in StandingIndex.inputSig") {
    // a `…Sig` helper, a def typed as a freshness signature or a
    // hand-folded layout salt is a second freshness mechanism; a family
    // names its input tables and layout version to inputSig. Query-output
    // signatures (prefix_sig, zsig, postings_sig) are columns, never
    // (Long, Long) values, so the pattern leaves them alone.
    assert(matchesIn(FreshnessSig, "StandingIndex.scala"))
    val bad = offenders(FreshnessSig, Set("StandingIndex.scala"))
    assert(bad.isEmpty,
      s"validate artifacts through StandingIndex.inputSig:\n${bad.mkString("\n")}")
  }

  test("snapshot layout claims are decoded only in SnapshotStore") {
    // a manifest layout column read anywhere else is a second layout
    // detector; readers go through SnapshotStore.layoutOf
    assert(matchesIn(LayoutColumn, "SnapshotStore.scala"))
    val bad = offenders(LayoutColumn, Set("SnapshotStore.scala"))
    assert(bad.isEmpty,
      s"read layouts through SnapshotStore.layoutOf:\n${bad.mkString("\n")}")
  }

  test("snapshot files are pruned only through SnapshotStore's one file predicate") {
    // a stats column or the category order read by another snapshot
    // source is a second pruning filter; a second key probe in the store
    // is a second copy of FileFilter's. The reader's per-row delete-key
    // lookups in SnapshotTableSource are not file pruning.
    assert(matchesIn(PruningStat, "SnapshotStore.scala"))
    val notOtherSnapshot = sources.map(_.getFileName.toString)
      .filterNot(n => n.startsWith("Snapshot") && n != "SnapshotStore.scala").toSet
    val bad = offenders(PruningStat, notOtherSnapshot)
    assert(bad.isEmpty, s"prune through SnapshotStore.FileFilter:\n${bad.mkString("\n")}")
    val store = sources.filter(_.getFileName.toString == "SnapshotStore.scala")
    val probes = store.map(p => KeyProbe.r.findAllMatchIn(text(p)).size).sum
    assert(probes == 1, s"SnapshotStore.scala has $probes key probes; use FileFilter.keys")
  }
}
