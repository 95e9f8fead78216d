package graft.zarr

import java.net.URI

import org.apache.hadoop.fs.{EtagSource, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local FileSystem whose file statuses expose a CONTENT-DERIVED etag
  * (Hadoop 3.4 [[EtagSource]]) — an S3A/ABFS stand-in for the inner-doc
  * freshness guard's third token. Real object-store etags change on any
  * content rewrite while object length (constant-length encodings) and
  * modification time (one-second granularity on S3-style stores) may
  * not; this FS reproduces that property locally with a CRC32 of the
  * file bytes, so the granule-aliased-rewrite adversary can be PINNED
  * instead of argued. Files here are tiny fixtures — the per-status
  * hash is a test cost, not a pattern for production FileSystems
  * (which carry the etag in the LIST/HEAD response for free).
  * Resolved via `fs.graftetag.impl`. */
class EtagFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftetag"
  override def getUri: URI = URI.create("graftetag:///")

  // directories get the same eager-POSIX treatment (no etag — a dir is
  // not an object): handing the RawLocal status through unwrapped would
  // leave ITS lazy permission loader to throw on this scheme
  private def wrap(st: FileStatus): FileStatus =
    if (st.isDirectory) EtagFileSystem.plainStatus(st)
    else new EtagFileSystem.TaggedStatus(st, EtagFileSystem.contentTag(st))

  override def getFileStatus(f: Path): FileStatus = wrap(super.getFileStatus(f))

  // LIST results carry etags too — matching S3A/ABFS, whose listings
  // return the etag for free (the property the production comment on
  // contentTag refers to)
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(wrap)
}

object EtagFileSystem {
  private def contentTag(st: FileStatus): String = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(st.getPath.toUri.getPath))
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    java.lang.Long.toHexString(crc.getValue)
  }

  // plain-field construction: the FileStatus COPY constructor calls
  // getPermission, whose RawLocal LAZY loader (non-native path) does
  // `new File(getPath().toUri())` and throws on any scheme but file://
  // — the same trap fires later for any caller that touches
  // getOwner/getGroup/getPermission on a status we hand out, so the
  // three fields are resolved EAGERLY here from the local file's POSIX
  // attributes (never null, never lazily re-resolved through the
  // graftetag:// path). Tiny test fixtures — the extra stat is a test
  // cost, like the content hash above.
  private def posixOf(st: FileStatus): (FsPermission, String, String) = {
    val p = java.nio.file.Paths.get(st.getPath.toUri.getPath)
    val attrs = java.nio.file.Files.readAttributes(
      p, classOf[java.nio.file.attribute.PosixFileAttributes])
    val perm = FsPermission.valueOf((if (st.isDirectory) "d" else "-") +
      java.nio.file.attribute.PosixFilePermissions.toString(attrs.permissions()))
    (perm, attrs.owner().getName, attrs.group().getName)
  }

  /** Eager-POSIX copy of a directory status (plain-field construction,
    * same rationale as TaggedStatus). */
  private def plainStatus(st: FileStatus): FileStatus = {
    val posix = posixOf(st)
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      posix._1, posix._2, posix._3, st.getPath)
  }

  private final class TaggedStatus(st: FileStatus, tag: String,
      posix: (FsPermission, String, String))
      extends FileStatus(st.getLen, st.isDirectory, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        posix._1, posix._2, posix._3, st.getPath) with EtagSource {
    def this(st: FileStatus, tag: String) = this(st, tag, posixOf(st))
    override def getEtag: String = tag
  }
}
