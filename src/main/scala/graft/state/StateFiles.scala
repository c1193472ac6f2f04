package graft.state

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one way the driver writes, renames, lists and deletes crawl
  * state files (manifests, schema sidecars, wave records, the
  * fetch-ingest fingerprint); Spark's part files are
  * written by [[ParquetDir.writer]].
  *
  * A write is atomic: a `.tmp` sibling renamed over the target
  * (ATOMIC_MOVE + REPLACE_EXISTING), so a reader sees the old file or
  * the new one, never a torn one. Nothing is forced to stable storage.
  * JSON goes through Jackson; a numeric field that is missing or null
  * fails the read (never a zero), a missing `Option` field reads None.
  */
object StateFiles {

  /** Test hook, called with each mutating operation's name (`write`,
    * `rename`, `delete`) and target before it runs: one that throws is
    * a process death just before that operation.
    */
  @volatile private[graft] var beforeOp: (String, Path) => Unit = (_, _) => ()

  def write(p: Path, bytes: Array[Byte]): Unit = writeWith(p)(_.write(bytes))

  /** Atomically replace `p` (creating its directory) with what `f` writes. */
  def writeWith(p: Path)(f: OutputStream => Unit): Unit = {
    beforeOp("write", p)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp")
    val out = new BufferedOutputStream(Files.newOutputStream(tmp))
    try f(out) finally out.close()
    Files.move(tmp, p, ATOMIC_MOVE, REPLACE_EXISTING)
  }

  def read(p: Path): Option[Array[Byte]] =
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None

  def exists(p: Path): Boolean = Files.exists(p)

  /** The entries of `dir` by name, none when it is missing; the stream is closed. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
    }

  /** The regular files under `dir`, at any depth. */
  def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  /** Atomic rename of a file or directory into `dst`'s directory. */
  def rename(src: Path, dst: Path): Unit = {
    beforeOp("rename", dst)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst, ATOMIC_MOVE)
  }

  /** Delete a file or a directory tree; a missing one is no error. */
  def delete(p: Path): Unit = {
    beforeOp("delete", p)
    def rm(q: Path): Unit = { list(q).foreach(rm); Files.deleteIfExists(q) }
    rm(p)
  }

  private val json =
    JsonMapper.builder().addModule(DefaultScalaModule).enable(FAIL_ON_NULL_FOR_PRIMITIVES).build()

  def writeJson(p: Path, value: AnyRef): Unit = write(p, json.writeValueAsBytes(value))

  /** None when `p` does not exist; throws when it holds no `T`. */
  def readJson[T](p: Path)(implicit t: ClassTag[T]): Option[T] =
    read(p).map(json.readValue(_, t.runtimeClass.asInstanceOf[Class[T]]))
}
