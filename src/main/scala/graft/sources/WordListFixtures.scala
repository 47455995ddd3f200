package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** Reference-scale word-list files, generated deterministically.
  *
  * The reference's membership inputs are a 235,886-line English dictionary
  * file (`en`, loaded one word per line at main.go:108–118) and a
  * ~668-entry stop-word table (main.go:301–969). The oracle-checked q11
  * exercises the same semi/anti-join *semantics* with small literal lists;
  * q101 exercises them at the reference's *scale* through the file-backed
  * path (`TokenPipeline.docTokenCountsFromFiles`), so the broadcast
  * semi-join is proven against a build side of 235,886 rows, not 29.
  *
  * Content is deterministic: the literal `TokenPipeline` lists (the words
  * this synthetic corpus can actually hit) padded to the reference's exact
  * line counts with filler words (`zzw000001`…) that cannot collide with
  * corpus tokens (corpus text is lowercase English-ish; the `zzw`/`zzs`
  * prefixes appear nowhere in it), then sorted — the reference's `en` file
  * is a sorted word list. The DuckDB oracle reads the same files via
  * read_csv, so Spark and the oracle agree on membership BY CONSTRUCTION,
  * file bytes included.
  *
  * Files land under /tmp (stable absolute path — the oracle SQL embeds
  * it) and are written atomically (temp + move) so a concurrent Verify /
  * Bench / test can never observe a half-written list; an existing file
  * with the right line count is reused. A file is line-counted once per
  * JVM: later calls re-count only when its size or mtime has changed.
  */
object WordListFixtures {
  /** Reference `en` dictionary line count. */
  val DictLines = 235886
  /** Reference stop-word table entry count (main.go:301–969). */
  val StopLines = 668

  val DictPath = "/tmp/graft-wordlists/dict_en.txt"
  val StopPath = "/tmp/graft-wordlists/stop_en.txt"

  /** (size, mtime) of each file this JVM has written or line-counted, by
    * path. q101 calls ensure() once per build; re-counting 236k lines each
    * time costs more than the check is worth while the file is unchanged.
    * Guarded by ensure()'s lock.
    */
  private val verified = scala.collection.mutable.Map.empty[Path, (Long, FileTime)]

  private def stamp(p: Path): (Long, FileTime) = (Files.size(p), Files.getLastModifiedTime(p))

  private def writeAtomic(target: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, target.getFileName.toString, ".tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    verified(target) = stamp(target)
  }

  private def upToDate(target: Path, lines: Int): Boolean =
    Files.exists(target) && (verified.get(target).contains(stamp(target)) || {
      val src = scala.io.Source.fromFile(target.toFile, "UTF-8")
      val ok = try src.getLines().size == lines finally src.close()
      if (ok) verified(target) = stamp(target)
      ok
    })

  /** Generate (if absent) and return (dictPath, stopPath). */
  def ensure(): (String, String) = synchronized {
    val dict = Paths.get(DictPath)
    if (!upToDate(dict, DictLines)) {
      val filler = (1 to (DictLines - graft.operators.TokenPipeline.Dictionary.size))
        .map(i => f"zzw$i%06d")
      writeAtomic(dict,
        (graft.operators.TokenPipeline.Dictionary ++ filler).sorted)
    }
    val stop = Paths.get(StopPath)
    if (!upToDate(stop, StopLines)) {
      val filler = (1 to (StopLines - graft.operators.TokenPipeline.StopWords.size))
        .map(i => f"zzs$i%04d")
      writeAtomic(stop,
        (graft.operators.TokenPipeline.StopWords ++ filler).sorted)
    }
    (DictPath, StopPath)
  }
}
