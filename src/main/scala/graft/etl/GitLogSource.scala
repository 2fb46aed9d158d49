package graft.etl

import java.io.{BufferedInputStream, BufferedReader, BufferedWriter, ByteArrayOutputStream,
  FilterInputStream, IOException, InputStream, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One extracted commit, pre-normalization (the analog of the
  * reference's `GitLog`, log.rs:6-25, plus the repo identity carried
  * alongside instead of a SQLite FK).
  */
final case class CommitRow(
    repo_name: String,
    repo_path: String,
    repo_url: String,
    commit_hash: String,
    parent_hash: String,
    author_name: String,
    author_email: String,
    commit_epoch: Long,
    message: String,
    insertions: Long,
    deletions: Long,
    changed_files: Seq[String])

/** One executor-side extraction event — the union row type that lets a
  * single distributed pass produce the repositories dimension, the
  * commit stream, AND the failure report:
  *
  *  - kind="repo":   the path validated as a git repository (url set,
  *    plus the `head` walked to — the incremental ETL's next frontier —
  *    and the walk's `mode`: full | since | noop | rewind, see
  *    [[GitLogSource.extractRepo]]); emitted even when the history
  *    yields zero non-merge commits, so the repositories table includes
  *    empty/all-merge repos exactly as the reference does
  *    (analyzer.rs:299-310);
  *  - kind="commit": one extracted commit (commit set);
  *  - kind="error":  validation failed (error set) — the reference's
  *    silent skip (analyzer.rs:351) surfaced as data.
  */
final case class ExtractEvent(
    kind: String,
    repo_name: String,
    repo_path: String,
    repo_url: String,
    error: String,
    commit: CommitRow,
    head: String = null,
    mode: String = null)

/** Git history extraction via `git log` parsing (the JVM has no
  * bundled JGit in /opt/spark/jars, and libgit2 is C — parsing
  * porcelain output is the portable executor-side path).
  *
  * Semantics reproduced from the reference (SURVEY.md §1.3):
  *  - merge commits excluded (`--no-merges` ≡ parent_count() < 2,
  *    repository.rs:112);
  *  - root commits diff against the empty tree, parent_hash = 40×'0'
  *    (repository.rs:119-133, 175);
  *  - first-parent diffs only (implicit in `git log` for non-merges,
  *    repository.rs:120);
  *  - exact-match rename/copy detection (`-M100% -C100%` ≡
  *    find_similar(exact_match_only), repository.rs:142-147), with the
  *    NEW path recorded (repository.rs:149-152);
  *  - submodules ignored (`-c diff.ignoreSubmodules=all`,
  *    repository.rs:137);
  *  - sentinel defaults, never NULL: "(no author name)",
  *    "(no author email)", "(no commit summary)", "(no remote url)"
  *    (repository.rs:164-179, 192);
  *  - remote URL rewrite git@github.com: → https://github.com/
  *    (repository.rs:193);
  *  - commit time is COMMITTER time (`%ct` ≡ commit.time().seconds(),
  *    repository.rs:178) — author time differs on rebased/cherry-picked
  *    commits.
  *
  * Parsing is NUL-delimited end to end (`-z` + `%x00` field
  * separators): no byte that can legally appear inside git metadata or
  * a filename is used as a delimiter, so author names / summaries with
  * control characters, filenames containing a literal " => ", and even
  * filenames with embedded newlines all come through exactly — these
  * were silent-corruption cases for the earlier line-based `--numstat`
  * text parse.
  */
object GitLogSource {

  val ZeroOid = "0" * 40
  val NoAuthorName  = "(no author name)"
  val NoAuthorEmail = "(no author email)"
  val NoSummary     = "(no commit summary)"
  val NoRemoteUrl   = "(no remote url)"

  // \x01 marks a commit header. It is unambiguous by POSITION, not by
  // rarity: a NUL-token can only start with \x01 when it is our header
  // marker — plain numstat entry tokens start with the insertion count,
  // and rename path tokens are consumed positionally (see parseTokens),
  // so even a filename beginning with \x01 cannot be misread.
  private val HeaderMark = '\u0001'

  /** Directory scan (analyzer.rs:102-135) up to `maxDepth`, excluding
    * `.git` dirs and configured ignores. Returns (candidates, ignored).
    *
    * Pruning rules (matter once --recursive makes maxDepth unbounded):
    *  - an ignored name prunes its WHOLE subtree (a repo nested under
    *    vendor/ must not sneak in through recursion);
    *  - a directory that is itself a git repository is a candidate and
    *    is never descended into (its working tree — node_modules and
    *    friends — must not become thousands of bogus candidates);
    *  - top-level non-repo dirs are still candidates, so they surface
    *    as skipped in the report exactly like the reference
    *    (analyzer.rs:255-263); deeper non-repo dirs are only traversal
    *    nodes.
    */
  def scanDirectories(
      root: Path, maxDepth: Int, ignored: Seq[String]): (Seq[Path], Seq[String]) = {
    // Manual per-directory listing instead of Files.walk: one
    // unreadable subdirectory must not abort the whole scan (walk's
    // iterator throws UncheckedIOException mid-traversal and can't be
    // resumed), and each stream is closed deterministically.
    // symlinked directories are never followed: a self-referencing
    // link (root/a/loop -> root/a) would otherwise recurse forever
    // under --recursive
    def children(dir: Path): Vector[Path] = {
      val stream = Try(Files.list(dir))
      stream.map { st =>
        try st.iterator().asScala
          .filter(p => Files.isDirectory(p) && !Files.isSymbolicLink(p))
          .toVector
        finally st.close()
      }.getOrElse(Vector.empty) // unreadable dir -> skipped, not fatal
    }
    val cands = Vector.newBuilder[Path]
    val ign   = Vector.newBuilder[String]
    def walk(dir: Path, depth: Int): Unit =
      if (depth <= maxDepth) children(dir).foreach { c =>
        val name = c.getFileName.toString
        if (name == ".git") ()                      // never descend into .git
        else if (ignored.contains(name)) ign += name // prune the subtree
        else if (isRepo(c)) cands += c               // repo: never descend inside
        else {
          if (depth == 1) cands += c // reference parity: surfaces as skipped
          walk(c, depth + 1)
        }
      }
    walk(root, 1)
    (cands.result().sortBy(_.toString), ign.result().sorted)
  }

  /** A checkout (`.git` may be a FILE: linked worktrees, submodule
    * checkouts) or a bare repository. Checked before any git call: git
    * itself would discover an ENCLOSING repository from a plain
    * subdirectory and walk the wrong history.
    */
  private def isRepo(p: Path): Boolean =
    Files.exists(p.resolve(".git")) ||
      (Files.isRegularFile(p.resolve("HEAD")) && Files.isDirectory(p.resolve("objects")))

  /** The `git log` arguments every walk shares.
    *
    * `-z` NUL-separates commits and NUL-terminates every numstat path
    * (renames arrive as an empty path slot followed by two standalone
    * old/new path tokens — no " => " munging to disambiguate); `%x00`
    * makes every header field its own NUL token.
    */
  private val LogArgs = Seq(
    "-z", "--no-merges", "--numstat", "--find-renames=100%", "--find-copies=100%",
    "--pretty=format:%x01%H%x00%P%x00%an%x00%ae%x00%ct%x00%s")

  /** Extract one repository as a lazy event stream — the one extraction
    * entry point. The whole per-repo subprocess budget runs HERE, inside
    * the executor task, so the driver's prep per repo is O(1) (a
    * directory listing entry) even on a 100k-repo work-list: one
    * `rev-parse` that both validates the repo and yields its head, one
    * remote-url lookup, then the walk.
    *
    * `since` is the head a PREVIOUS run recorded (the incremental ETL's
    * frontier; the reference re-runs full history every time,
    * analyzer.rs:301). The walk taken is the repo event's `mode`:
    *
    *  - no previous head (first run, new repo) → "full": whole history;
    *  - previous head == HEAD                  → "noop": zero commits,
    *    no history walk at all;
    *  - previous head is an ancestor of HEAD   → "since": exactly
    *    `old..HEAD` — cost proportional to NEW commits;
    *  - previous head missing / not an ancestor (force push, gc)
    *                                           → "rewind": full history
    *    again — the incremental append's anti-join against the
    *    already-committed (repository_id, commit_hash) set deduplicates
    *    ([[GitEtlIncr]]), so a rewound repo is re-covered, never doubled.
    *
    * `shard` of `shards` extracts only the commits whose hash falls in
    * its slice — the giant-repo straggler mitigation: one huge history
    * spreads over several tasks instead of serializing into one. The
    * "repo" / "error" events come from shard 0 only (one dimension row
    * per repo); every shard still validates (a rev-parse is cheap next
    * to its extraction slice).
    *
    * The kind="repo" event carries the head walked to (the next run's
    * frontier) and the mode. Commits stream token by token, so executor
    * memory per repo is O(one commit), not O(history) — the reference
    * holds the entire repo in a Vec (repository.rs:114,185), which
    * SURVEY.md §4 flags as its OOM risk at scale.
    */
  def extractRepo(path: Path, since: Option[String] = None,
                  shard: Int = 0, shards: Int = 1): Iterator[ExtractEvent] = {
    val name = path.getFileName.toString
    val resolved =
      if (!isRepo(path)) Left(s"not a git repository: $path")
      else gitOutput(path, "rev-parse", "--verify", "HEAD").toOption.filter(_.nonEmpty)
        .toRight(s"cannot resolve HEAD in $path")
    resolved match {
      case Left(err) =>
        if (shard == 0) Iterator.single(ExtractEvent("error", name, path.toString, null, err, null))
        else Iterator.empty
      case Right(head) =>
        val url = gitOutput(path, "config", "--get", "remote.origin.url").toOption
          .filter(_.nonEmpty).getOrElse(NoRemoteUrl)
          .replace("git@github.com:", "https://github.com/")
        // `merge-base --is-ancestor` also fails on an unknown (gc'd) old head
        val mode = since match {
          case None                     => "full"
          case Some(old) if old == head => "noop"
          case Some(old) if gitOutput(path, "merge-base", "--is-ancestor", old, head).isSuccess => "since"
          case Some(_)                  => "rewind"
        }
        val repoEv =
          if (shard == 0) Iterator.single(ExtractEvent("repo", name, path.toString, url, null, null, head, mode))
          else Iterator.empty
        val range = if (mode == "since") s"${since.get}..$head" else head
        // `++` takes its operand by name: the walk starts once the repo event is consumed
        repoEv ++ (if (mode == "noop") Iterator.empty
          else parseTokens(commitTokens(path, range, shard, shards), name, path.toString, url)
            .map(c => ExtractEvent("commit", name, path.toString, url, null, c)))
    }
  }

  /** A commit's shard: uniform from its leading hash bits — no global
    * index pass needed, every shard streams the (cheap, diff-free)
    * rev-list independently and keeps its slice.
    */
  private[etl] def shardOf(hash: String, shards: Int): Int =
    (java.lang.Long.parseLong(hash.substring(0, 8), 16) % shards).toInt

  /** The NUL-token stream of `range`'s non-merge commits in this shard.
    * A sharded walk pipes `git rev-list` (metadata only) through the
    * shard filter into `git log --stdin --no-walk=unsorted`, which diffs
    * ONLY the fed commits — the output is the same -z grammar.
    */
  private def commitTokens(path: Path, range: String, shard: Int, shards: Int): Iterator[String] =
    if (shards <= 1) nulTokens(git(path, "log", LogArgs ++ Seq("--date-order", range, "--")))
    else {
      val revs = new BufferedReader(new InputStreamReader(
        git(path, "rev-list", Seq("--no-merges", range, "--")), UTF_8))
      val owned = Iterator.continually(revs.readLine()).takeWhile(_ != null)
        .filter(h => h.length >= 8 && shardOf(h, shards) == shard).buffered
      // `git log --stdin` with empty stdin falls back to HEAD (verified),
      // so an empty shard must never launch the log process at all — it
      // would re-emit the entire history
      if (!owned.hasNext) Iterator.empty
      else nulTokens(git(path, "log", LogArgs ++ Seq("--no-walk=unsorted", "--stdin"), owned))
    }

  /** `git <cmd> <args>` run to completion; its trimmed stdout, or the
    * failure [[git]] raises on a nonzero exit. */
  private def gitOutput(dir: Path, cmd: String, args: String*): Try[String] =
    Try(new String(git(dir, cmd, args).readAllBytes(), UTF_8).trim)

  /** The one git subprocess runner: starts `git <cmd> <args>` in `dir`
    * and returns its stdout.
    *
    *  - `stdin` lines are fed from a thread (none: stdin closes at once),
    *    so a piped walk flows without buffering the history anywhere;
    *  - stderr is drained concurrently (a chatty git would block on a
    *    full pipe) into a bounded tail;
    *  - at end of stdout a nonzero exit becomes a LOUD exception naming
    *    git's stderr tail — raised from the consuming task instead of
    *    silently truncating the repo's commits while the report lists
    *    it as analyzed — and so does a failed `stdin` feed.
    *
    * `core.quotePath=false` keeps non-ASCII paths raw (with -z git never
    * quotes, but the setting also covers the non -z commands), and
    * submodules are ignored (`diff.ignoreSubmodules=all`,
    * repository.rs:137).
    */
  private def git(dir: Path, cmd: String, args: Seq[String],
                  stdin: Iterator[String] = Iterator.empty): InputStream = {
    val proc = new ProcessBuilder((Seq("git", "-c", "diff.ignoreSubmodules=all",
      "-c", "core.quotePath=false", cmd) ++ args): _*).directory(dir.toFile).start()
    val tail = new StringBuilder
    val drainer = daemon(s"git-$cmd-stderr") {
      val r = new BufferedReader(new InputStreamReader(proc.getErrorStream, UTF_8))
      Iterator.continually(r.readLine()).takeWhile(_ != null).foreach { l =>
        tail.synchronized { if (tail.length < 4096) tail.append(l).append('\n') }
      }
    }
    @volatile var feedFailure: Throwable = null
    val feeder =
      if (!stdin.hasNext) { proc.getOutputStream.close(); None }
      else Some(daemon(s"git-$cmd-stdin") {
        val out = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream, UTF_8))
        var open = true
        // once git stops reading (it died mid-stream: EPIPE) keep draining
        // the feed, so an upstream git never wedges on a pipe nobody reads;
        // git's exit status carries that failure
        try stdin.foreach { l =>
          if (open) try { out.write(l); out.write('\n') }
          catch { case _: IOException => open = false }
        } catch { case e: Throwable => feedFailure = e } // e.g. upstream git failed
        finally Try(out.close())
      })
    new FilterInputStream(new BufferedInputStream(proc.getInputStream)) {
      private var checked = false
      private def atEof(n: Int): Int = {
        if (n < 0 && !checked) {
          checked = true
          val code = proc.waitFor()
          drainer.join(); feeder.foreach(_.join())
          if (code != 0) throw new RuntimeException(
            s"git $cmd exited with $code in $dir: ${tail.synchronized(tail.toString).trim}")
          if (feedFailure != null) throw new RuntimeException(
            s"git $cmd input failed in $dir: ${feedFailure.getMessage}", feedFailure)
        }
        n
      }
      override def read(): Int = atEof(super.read())
      override def read(b: Array[Byte], off: Int, len: Int): Int = atEof(super.read(b, off, len))
    }
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Lazy NUL-token reader over a raw byte stream. Tokens are UTF-8
    * decoded per token (paths/metadata may contain any byte but NUL).
    */
  private[etl] def nulTokens(in: InputStream): Iterator[String] =
    new Iterator[String] {
      private val buf = new ByteArrayOutputStream(256)
      private var pending: String = null
      private var done = false

      private def advance(): Unit = {
        while (pending == null && !done) {
          val b = in.read()
          if (b < 0) {
            done = true
            if (buf.size() > 0) pending = take()
          } else if (b == 0) pending = take()
          else buf.write(b)
        }
      }
      private def take(): String = {
        val s = new String(buf.toByteArray, UTF_8); buf.reset(); s
      }
      override def hasNext: Boolean = { advance(); pending != null }
      override def next(): String = {
        advance()
        if (pending == null) throw new NoSuchElementException
        val t = pending; pending = null; t
      }
    }

  /** Incremental parser over the NUL-token stream of
    * `git log -z --numstat --pretty=format:%x01%H%x00...%x00%s`.
    *
    * Stream grammar (established against git 2.x output, see the
    * fixture tests):
    * {{{
    * commit   := \x01 H \0 P \0 an \0 ae \0 ct \0 summary rest
    * rest     := ""                      (no diff)
    *           | "\n" entry (\0 entry)*  (numstat entries)
    * entry    := ins \t del \t path      (plain; path may contain \t)
    *           | ins \t del \t \0 old \0 new   (rename/copy)
    * commits are separated by one \0 (an empty token when the previous
    * commit ended with a NUL-terminated entry).
    * }}}
    */
  private[etl] def parseTokens(
      tokens: Iterator[String], repoName: String, repoPath: String,
      url: String): Iterator[CommitRow] = new Iterator[CommitRow] {
    private var current: CommitRow = null
    private var ins = 0L
    private var del = 0L
    private var files = Vector.newBuilder[String]
    private var pending: CommitRow = null
    private var done = false

    private def finishCurrent(): CommitRow = {
      val r = current.copy(insertions = ins, deletions = del, changed_files = files.result())
      current = null; ins = 0L; del = 0L; files = Vector.newBuilder[String]
      r
    }

    // header fields are consumed positionally — control characters in
    // the name/summary fields shift nothing
    private def startCommit(hash: String): Unit = {
      val parents = tokens.next().split(' ').filter(_.nonEmpty)
      val an = tokens.next()
      val ae = tokens.next()
      val ct = tokens.next()
      // the stream can END right after %ct's NUL: a diff-less oldest
      // commit with an empty message emits no summary byte and no
      // trailing NUL (verified with --allow-empty --allow-empty-message)
      val sTok = if (tokens.hasNext) tokens.next() else "" // summary [+ "\n" + first entry chunk]
      val nl = sTok.indexOf('\n')
      val summary = if (nl >= 0) sTok.substring(0, nl) else sTok
      current = CommitRow(
        repo_name = repoName, repo_path = repoPath, repo_url = url,
        commit_hash = hash,
        parent_hash = parents.headOption.getOrElse(ZeroOid),
        author_name = if (an.isEmpty) NoAuthorName else an,
        author_email = if (ae.isEmpty) NoAuthorEmail else ae,
        commit_epoch = ct.toLong,
        message = if (summary.isEmpty) NoSummary else summary,
        insertions = 0L, deletions = 0L, changed_files = Nil)
      if (nl >= 0 && nl < sTok.length - 1) entry(sTok.substring(nl + 1))
    }

    private def entry(chunk: String): Unit = {
      val parts = chunk.split("\t", -1)
      if (parts.length >= 3) {
        ins += Try(parts(0).toLong).getOrElse(0L) // "-" for binary files
        del += Try(parts(1).toLong).getOrElse(0L)
        val path = parts.drop(2).mkString("\t") // a path may contain tabs
        if (path.isEmpty) {
          // rename/copy: empty path slot, then two standalone tokens;
          // record the NEW path (repository.rs:149-152)
          tokens.next() // old path
          files += tokens.next()
        } else files += path
      }
    }

    private def advance(): Unit = {
      while (pending == null && !done) {
        if (!tokens.hasNext) {
          done = true
          if (current != null) pending = finishCurrent()
        } else {
          val t = tokens.next()
          if (t.isEmpty) () // commit separator after a NUL-ended entry
          else if (t.charAt(0) == HeaderMark) {
            if (current != null) pending = finishCurrent()
            startCommit(t.substring(1))
          } else if (current != null) entry(t)
        }
      }
    }

    override def hasNext: Boolean = { advance(); pending != null }
    override def next(): CommitRow = {
      advance()
      if (pending == null) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
  }

}
