package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.conf.Configuration

/** Branch lifecycle for the docstore — the WRITE–AUDIT–PUBLISH (WAP)
  * pattern (Iceberg branch refs / Netflix's WAP workflow, adapted to
  * this store's linear manifests):
  *
  *   1. [[create]] a branch off main's current tip — one EMPTY delta
  *      manifest, O(1), data files shared (the "zero-copy" of a Delta
  *      shallow clone: metadata forks, bytes don't);
  *   2. WRITE: batch writers target the branch with the `branch`
  *      write option — appends, MERGEs, rewrites all run the same OCC
  *      CAS, just against the branch chain; main's readers never see
  *      any of it;
  *   3. AUDIT: quality gates read the branch by name (`branch` read
  *      option), with snapshot pinning and every pruning gate intact;
  *   4. [[publish]]: fold the branch's NET change (vs its fork base)
  *      into main as ONE commit through the same CAS every writer
  *      uses — atomically, so main goes from "none of the branch"
  *      to "all of it" with no intermediate state, rebasing past
  *      main-side commits that landed since the fork and aborting
  *      loudly (the OCC conflict shape) when main retired or
  *      re-masked a file the branch also rewrote.
  *
  * At 100 TB this is the difference between "the nightly ingest is
  * visible the moment any file lands" and "the nightly ingest becomes
  * visible only after the contamination/dedup/PII gates passed" —
  * with zero data copies either way.
  *
  * Driver-side cost: create is O(1); publish is O(fork-base file
  * count) to diff the two folds (manifest metadata only, no data file
  * opens) — the same cost class as one scan plan.
  */
object DocStoreBranch {

  /** Fork a branch off main's current tip. Returns the branch's first
    * version (= fork base + 1, an empty delta that pins the fork).
    */
  def create(dir: String, name: String): Long = {
    DocStore.requireBranchName(name)
    require(DocStore.branchVersions(dir, name).isEmpty,
      s"docstore: branch '$name' already exists under $dir")
    val sn = DocStore.resolve(dir).getOrElse(
      throw new IllegalArgumentException(
        s"docstore: cannot branch an empty table (no commits under $dir)"))
    val v = sn.version + 1
    // identical state ⇒ an empty delta body; the CAS failing means a
    // concurrent create won — loud, same-name branches cannot fork
    // two histories
    val won = DocStore.casVersion(dir, Some(name), sn, sn.copy(version = v),
      DocStore.CommitMeta(Some("branch-create"), System.currentTimeMillis()))
    if (!won) throw new java.util.ConcurrentModificationException(
      s"docstore: branch '$name' was created concurrently under $dir")
    v
  }

  /** The branch's fork base version: the main version the branch's
    * first manifest committed on top of.
    */
  def forkBase(dir: String, name: String): Long = {
    val vs = DocStore.branchVersions(dir, name)
    require(vs.nonEmpty, s"docstore: no such branch '$name' under $dir")
    vs.head - 1
  }

  /** Atomically fold the branch's net change into main (the P of
    * WAP). Returns the published main version. The branch itself is
    * left in place, still pinned on its pre-publish state — [[drop]]
    * it when the audit trail is no longer needed.
    *
    * Conflict rules (the batch-writer OCC shape, applied to the net
    * diff): every file the branch RETIRED must still be live in
    * main's latest snapshot, and its DV binding must not have moved
    * since the fork — otherwise a main-side writer rewrote or
    * re-masked rows the branch also rewrote, the histories are not
    * serializable, and the publish aborts loudly. Main-side commits
    * touching OTHER files rebase underneath — pure branch appends
    * always publish.
    */
  def publish(dir: String, name: String,
              commitTs: Option[Long] = None): Long = {
    val branchSnap = DocStore.resolve(dir, None, Some(name)).getOrElse(
      throw new IllegalArgumentException(
        s"docstore: no such branch '$name' under $dir"))
    val baseSnap = DocStore.readSnapshot(dir, forkBase(dir, name))
    def nameOf(f: String): String = new Path(f).getName
    val baseNames = baseSnap.files.map { case (f, _) => nameOf(f) }.toSet
    val branchByName = branchSnap.files.map { case (f, len) =>
      (nameOf(f), len)
    }
    val branchNames = branchByName.map(_._1).toSet
    val added = branchByName.filterNot { case (n, _) => baseNames.contains(n) }
    val removed = baseNames -- branchNames
    // DV bindings the branch changed on files it KEPT (set or dropped)
    val dvChangedKept = (branchSnap.dvs.keySet ++ baseSnap.dvs.keySet)
      .filter(branchNames.contains)
      .filter(n => branchSnap.dvs.get(n) != baseSnap.dvs.get(n))
    DocStore.commit(dir, Some("publish"), commitTs,
        branchSnap.keyDomain) { mainSnap =>
      if (mainSnap.version == 0L) throw new IllegalStateException(
        s"docstore: main chain vanished under $dir")
      val mainNames = mainSnap.files.map { case (f, _) => nameOf(f) }.toSet
      def conflict(msg: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"docstore: branch '$name' cannot publish — $msg; " +
            "re-audit against the new main snapshot")
      val gone = removed.filterNot(mainNames.contains)
      if (gone.nonEmpty)
        conflict(s"${gone.size} file(s) the branch rewrites were " +
          s"already retired on main (${gone.take(3).mkString(", ")})")
      // a main-side DV landing on a file the branch retired or
      // re-masked would be silently dropped by the fold — abort
      val reMasked = (removed ++ dvChangedKept).filter { n =>
        mainSnap.dvs.get(n) != baseSnap.dvs.get(n)
      }
      if (reMasked.nonEmpty)
        conflict(s"${reMasked.size} file(s) the branch touches were " +
          "re-masked by a main-side deletion-vector commit " +
          s"(${reMasked.take(3).mkString(", ")})")
      // a file's Blooms, tuple and stats never change, so the union of
      // both sides' serves every file that stays live
      Some(mainSnap.copy(
        files = mainSnap.files.filterNot { case (f, _) =>
          removed.contains(nameOf(f))
        } ++ added.map { case (n, len) => (new Path(dir, n).toString, len) },
        dvs = mainSnap.dvs ++
          dvChangedKept.flatMap(n => branchSnap.dvs.get(n).map(n -> _)) --
          dvChangedKept.filterNot(branchSnap.dvs.contains),
        blooms = mainSnap.blooms ++ branchSnap.blooms,
        parts = mainSnap.parts ++ branchSnap.parts,
        stats = mainSnap.stats ++ branchSnap.stats,
        schemaDdl = branchSnap.schemaDdl.orElse(mainSnap.schemaDdl)))
    }.get
  }

  /** Delete the branch's manifests (its data files stay until vacuum,
    * like every retired file — publish first if the work should
    * survive).
    */
  def drop(dir: String, name: String): Unit = {
    val fs = new Path(dir).getFileSystem(DocStore.hconf)
    DocStore.branchVersions(dir, name).foreach { v =>
      fs.delete(new Path(dir, DocStore.branchManifestName(name, v)), false)
    }
  }
}
