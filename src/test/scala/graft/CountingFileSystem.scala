package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, PathFilter, RawLocalFileSystem}

/** Local filesystem with instrumented METADATA calls, registered under
  * the `graftcount` scheme — the probe behind CommitNoListingSpec
  * (VERDICT r14 #6): the r14 fix replaced committedView's per-view
  * distributed listing job with the manifest-backed
  * GraftCommitFileIndex (13 s → 0.13 s per view; a listing storm per
  * reader on object storage at 100 TB), and that property is
  * load-bearing enough to pin STRUCTURALLY — a future reader-path
  * change that silently reintroduces listing must fail a named spec,
  * not wait for the next 100 TB profile.
  *
  * Counts the listing family (listStatus / listStatusIterator /
  * listLocatedStatus / globStatus) and getFileStatus separately, and
  * tracks whether any listing call ran on an executor task thread —
  * in local mode a "distributed listing job" still executes in this
  * JVM, on threads named `Executor task launch worker-*`, so the
  * executor-thread counter is exactly the signature of the regression
  * this spec exists to catch.
  *
  * It is also a failpoint filesystem: with `failRenameAt` = N, the Nth
  * rename since `reset()` throws, which is how CommitPointSpec crashes
  * an ingest commit at every rename it makes. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem._

  override def getScheme: String = "graftcount"
  override def getUri: URI = URI.create("graftcount:///")

  private def onExecutorThread: Boolean =
    Thread.currentThread().getName.startsWith("Executor task launch")

  private def countList(): Unit = {
    listCalls.incrementAndGet()
    if (onExecutorThread) executorListCalls.incrementAndGet()
  }

  // RawLocalFileSystem.listStatus internally calls getFileStatus once
  // per child entry — an implementation detail of THIS test double,
  // not a client round trip; suppress stat counting inside a listing
  // so statCalls means "client-initiated per-file stats" (what a
  // remote object store would bill as separate HEAD requests beyond
  // the LIST response)
  private def inList[A](body: => A): A = {
    CountingFileSystem.listDepth.set(CountingFileSystem.listDepth.get + 1)
    try body
    finally CountingFileSystem.listDepth.set(CountingFileSystem.listDepth.get - 1)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    countList(); inList(super.listStatus(f))
  }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    countList(); inList(super.listStatus(f, filter))
  }
  override def listStatusIterator(p: Path)
      : org.apache.hadoop.fs.RemoteIterator[FileStatus] = {
    countList(); super.listStatusIterator(p)
  }
  override def listLocatedStatus(f: Path)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    countList(); super.listLocatedStatus(f)
  }
  override def globStatus(pathPattern: Path): Array[FileStatus] = {
    countList(); super.globStatus(pathPattern)
  }
  override def globStatus(pathPattern: Path, filter: PathFilter): Array[FileStatus] = {
    countList(); super.globStatus(pathPattern, filter)
  }
  // failpoint: the Nth rename since reset() throws, as a crash at that
  // point would stop the commit; FileContext renames (bound through
  // CountingFs) land here too
  override def rename(src: Path, dst: Path): Boolean = {
    val n = renameCalls.incrementAndGet()
    if (n == failRenameAt.get)
      throw new java.io.IOException(s"injected failure at rename $n: $src -> $dst")
    super.rename(src, dst)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (CountingFileSystem.listDepth.get == 0) {
      statCalls.incrementAndGet()
      if (onExecutorThread) executorStatCalls.incrementAndGet()
    }
    super.getFileStatus(f)
  }
}

object CountingFileSystem {
  val listCalls = new AtomicLong(0L)
  val statCalls = new AtomicLong(0L)
  val executorListCalls = new AtomicLong(0L)
  val executorStatCalls = new AtomicLong(0L)
  val renameCalls = new AtomicLong(0L)
  /** 0 = no failpoint; N = the Nth rename after reset() throws. */
  val failRenameAt = new AtomicLong(0L)
  private[graft] val listDepth: ThreadLocal[Int] =
    ThreadLocal.withInitial(() => 0)

  def reset(): Unit = {
    listCalls.set(0L); statCalls.set(0L)
    executorListCalls.set(0L); executorStatCalls.set(0L)
    renameCalls.set(0L); failRenameAt.set(0L)
  }
}

/** [[CountingFileSystem]] as a `FileContext` filesystem, for
  * `fs.AbstractFileSystem.graftcount.impl`: a versioned index's
  * `_current` pointer moves by a `FileContext` rename with overwrite. */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFileSystem, conf, "graftcount", false)
