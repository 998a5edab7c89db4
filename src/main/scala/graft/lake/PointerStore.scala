package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage protocol for the table's swap-replaced POINTER files (HEAD,
  * refs.json) — the one commit-protocol piece whose correct shape
  * depends on the filesystem's atomicity guarantees. The engine uses
  * [[GenerationPointerStore]] (see [[PointerStore.forTable]] for why):
  * no rename at all — each swap exclusively creates
  * `.ptr-<name>/gen-<n+1>` and readers take the highest generation.
  * This is the OBJECT-STORE shape: S3 has no atomic rename, but
  * exclusive create maps directly onto a conditional
  * `PUT If-None-Match:*`, and readers never observe absence mid-swap
  * because the previous generation outlives the swap. (The remaining
  * alternative, pointer-in-catalog — e.g. a DynamoDB/Glue conditional
  * update, which is how Iceberg's S3 catalogs commit — swaps the same
  * logical pointer outside the filesystem entirely; same `read`/`write`
  * contract, not needed in this environment.)
  *
  * Contract the commit protocol relies on ([[LakeTable]]): `write` is
  * complete-at-swap (a reader sees the OLD value or the NEW value, never
  * a torn prefix), and `read` returning None means the pointer was never
  * created — not that a swap was in flight. Race DETECTION lives one
  * level up (exclusive create of the `v<id>.json.gz` doc); the pointer
  * swap only ever publishes an already-won commit. */
sealed trait PointerStore {
  /** Current pointer value; None = never created. Rides out any
    * transient mid-swap state rather than surfacing it. */
  def read(p: Path): Option[String]

  /** Replace the pointer value, complete-at-swap. */
  def write(p: Path, value: String): Unit
}

/** HTTP-412 class: a conditional PUT lost to an existing key. The one
  * failure kind the generation protocol retries — anything else is
  * real storage trouble and propagates. */
final class PreconditionFailed(msg: String)
    extends java.io.IOException(msg)

/** The object-store PRIMITIVE the generation protocol needs — an
  * all-or-nothing create-if-absent plus list/read/delete. This is the
  * seam where a real object-store client plugs in:
  *
  *   - S3: `PutObject` with `If-None-Match: *` (412 on conflict),
  *     `ListObjectsV2`, `GetObject`, `DeleteObject`;
  *   - GCS: upload with `x-goog-if-generation-match: 0`;
  *   - a catalog-pointer variant (DynamoDB/Glue conditional update)
  *     satisfies the same contract with keys instead of objects.
  *
  * The AWS/GCS client itself is environmental (no SDK offline) —
  * [[FsConditionalPut]] is the filesystem implementation, and the
  * spec's contention doubles inject 412 races through this trait to
  * prove the protocol code against exactly the failure surface S3
  * would present. */
trait ConditionalPut {
  /** Atomically create `p` holding `value` iff `p` is absent.
    * @throws PreconditionFailed when the key already exists */
  def putIfAbsent(p: Path, value: String): Unit

  /** Full value of `p`; None = absent or not yet readable. */
  def read(p: Path): Option[String]

  /** The children of `dir` (shallow); None = `dir` absent. */
  def list(dir: Path): Option[Seq[Path]]

  /** Best-effort delete (used only for unreachable old generations). */
  def delete(p: Path): Unit
}

/** [[ConditionalPut]] over a Hadoop FileSystem: exclusive create is
  * the conditional PUT (HDFS/local honor it natively). A checksummed
  * FileSystem (the local one) is bypassed for its raw FileSystem: the
  * length-prefixed frame is what guards a generation's completeness, so
  * a `.crc` sibling would cost a create and a delete per swap and guard
  * nothing. */
final class FsConditionalPut(checked: FileSystem) extends ConditionalPut {
  private val fs = ManifestIO.rawFs(checked)
  override def putIfAbsent(p: Path, value: String): Unit =
    try LakeTable.writeStringExclusive(fs, p, value)
    catch {
      case e: java.io.IOException =>
        // classify: lost-the-create (the 412 class) vs real trouble
        if (fs.exists(p)) throw new PreconditionFailed(
          s"$p already exists (lost the exclusive create): ${e.getMessage}")
        else throw e
    }
  override def read(p: Path): Option[String] =
    try Some(LakeTable.readString(fs, p))
    catch { case _: java.io.IOException => None }
  override def list(dir: Path): Option[Seq[Path]] =
    try Some(fs.listStatus(dir).toSeq.map(_.getPath))
    catch { case _: java.io.FileNotFoundException => None }
  override def delete(p: Path): Unit =
    try fs.delete(p, false)
    catch { case _: java.io.IOException => () }
}

/** Rename-free generation pointer store — the object-store-safe
  * protocol, written against [[ConditionalPut]]. The pointer
  * `<dir>/<name>` is represented by files `<dir>/.ptr-<name>/gen-<n>`:
  * a swap conditionally creates generation n+1 (on S3: conditional
  * `PUT If-None-Match:*` of the whole object) and then best-effort
  * deletes generations older than the previous one, so a reader
  * listing for the highest generation ALWAYS finds a complete value —
  * the old generation outlives the swap, closing the absent-mid-swap
  * window renames have. Generation numbers are zero-padded so
  * lexicographic listing order is numeric order. Only
  * [[PreconditionFailed]] (a lost race) retries; any other storage
  * error propagates — retrying real trouble would spin 50 times and
  * misreport it as contention.
  *
  * Completeness framing: an S3 PUT is all-or-nothing, but the local
  * emulation (exclusive create, then write, then close) exposes a
  * window where the file exists with partial content. Values are
  * therefore length-prefixed (`<byte-count>\n<payload>`); a reader
  * that sees a short or unparseable frame treats the generation as
  * in-flight and falls back to the previous one. */
final class GenerationPointerStore(backend: ConditionalPut)
    extends PointerStore {

  def this(fs: FileSystem) = this(new FsConditionalPut(fs))

  /** Generations live in a DEDICATED sibling directory
    * (`.ptr-<name>/gen-<n>`), NOT next to the pointer: the pointer's
    * parent is the table's metadata dir, whose entry count grows with
    * history (v-files, manifest chunks) — listing it per HEAD read
    * would make every read O(history). The subdir holds ≤2 live
    * generations, so a read lists a 1–2 entry prefix (on S3: a
    * 2-object prefix list). */
  private def genDir(p: Path): Path =
    new Path(p.getParent, s".ptr-${p.getName}")

  /** Generations of `p`; None = never created (no generation dir).
    * `Some(Nil)` is a listing that RACED swaps, not an absent pointer:
    * the directory outlives every swap and always holds the newest
    * generation, but a local-filesystem listing names the entries and
    * then stats each one, dropping any a concurrent swap deleted in
    * between — two quick swaps can hide every generation. Callers
    * re-list. */
  private def gens(p: Path): Option[Seq[(Long, Path)]] = {
    val prefix = "gen-"
    backend.list(genDir(p)).map(_.flatMap { path =>
      val n = path.getName
      if (!n.startsWith(prefix)) None
      else scala.util.Try(n.substring(prefix.length).toLong).toOption
        .map(_ -> path)
    })
  }

  /** None = file absent/unreadable OR frame incomplete (in-flight). */
  private def readComplete(path: Path): Option[String] =
    backend.read(path).flatMap { framed =>
      val nl = framed.indexOf('\n')
      if (nl <= 0) None
      else scala.util.Try(framed.substring(0, nl).toInt).toOption
        .flatMap { len =>
          val payload = framed.substring(nl + 1)
          if (payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              .length == len) Some(payload)
          else None
        }
    }

  override def read(p: Path): Option[String] = {
    // newest complete generation wins; a generation can be in-flight
    // (short frame) or vanish between list and open (writer cleanup) —
    // fall back to the next-highest, re-listing a few times
    var attempt = 0
    while (attempt < 5) {
      val current = gens(p).getOrElse(return None).sortBy(-_._1)
      current.foreach { case (_, path) =>
        readComplete(path) match {
          case Some(v) => return Some(v)
          case None => () // in-flight or swept; try older
        }
      }
      attempt += 1
      Thread.sleep(1L << attempt)
    }
    // generations exist but none readable across every retry: that is
    // storage trouble, not "no table" — honor the contract (None =
    // never created) by failing loudly instead
    if (gens(p).isEmpty) None
    else throw new java.io.IOException(
      s"pointer $p unreadable: generations present but none complete")
  }

  override def write(p: Path, value: String): Unit = {
    val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val framed = s"${bytes.length}\n$value"
    var attempt = 0
    while (true) {
      val known = gens(p)
      // a raced listing (Some(Nil)) must not restart the pointer at
      // generation 1, below the live one: re-list
      if (!known.contains(Nil)) {
        val next = known.getOrElse(Nil).map(_._1).maxOption.getOrElse(0L) + 1
        val target = new Path(genDir(p), f"gen-$next%019d")
        try {
          backend.putIfAbsent(target, framed)
          // keep the immediately-previous generation alive for in-flight
          // readers; everything older is unreachable and sweeps away
          gens(p).getOrElse(Nil).filter(_._1 < next - 1)
            .foreach { case (_, old) => backend.delete(old) }
          return
        } catch {
          // lost the conditional PUT to a racing swap: re-list, retry
          case _: PreconditionFailed => ()
        }
      }
      attempt += 1
      if (attempt > 50)
        throw new java.util.ConcurrentModificationException(
          s"pointer swap of $p contended beyond $attempt attempts")
    }
  }
}

object PointerStore {
  /** The table's pointer store: the generation protocol. It is the one
    * protocol because a rename-based swap has a RESIDUAL stall window
    * this one structurally lacks: a writer stalled >60 s (the orphan
    * grace) between its HEAD existence check and its rename can, on
    * waking, transiently regress HEAD past a reclaimer's newer swap —
    * rename REPLACES the pointer, so a stale writer can clobber a newer
    * value. A generation swap never replaces anything: the stale
    * writer's conditional create lands at a LOWER generation than the
    * reclaimer's (or loses the create outright), and readers take the
    * highest, so a delayed swap is inert rather than a regression. */
  def forTable(fs: FileSystem): PointerStore = new GenerationPointerStore(fs)
}
