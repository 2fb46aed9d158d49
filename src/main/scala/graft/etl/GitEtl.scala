package graft.etl

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full ETL (analyzer.rs:203-352) as a Spark job:
  * driver-side directory scan → one distributed pass per repo doing
  * validation + remote-url lookup + `git log` extraction (mapPartitions
  * over the repo work-list — the executor-boundary analog of one tokio
  * task per repo, analyzer.rs:222-230) → DataFrame normalization
  * (author-map broadcast lookup, URL rewrite, explode) → three parquet
  * tables. The same dataflow serves full, sharded and incremental runs:
  * [[GitEtlIncr]] passes the previous run's state and keeps only the
  * exactly-once append.
  *
  * Deviations from the reference, by design (SURVEY.md §7.3):
  *  - surrogate keys are deterministic (dense_rank over (name, path)),
  *    not SQLite AUTOINCREMENT (analyzer.rs:152) — AUTOINCREMENT has no
  *    stable distributed analog;
  *  - the logs "primary key" is (repository_id, commit_hash), not a
  *    global commit_hash PK, so forks sharing commits don't silently
  *    drop whole repositories (the reference's `.ok()` swallow at
  *    analyzer.rs:351 + global PK at analyzer.rs:163);
  *  - failed repos surface in [[EtlReport.failed]] instead of
  *    disappearing.
  */
object GitEtl {

  final case class EtlReport(
      analyzed: Seq[String],
      ignored: Seq[String],
      failed: Map[String, String],
      nLogs: Long,
      nChangedFiles: Long,
      commitsPerRepo: Seq[(String, Long)] = Nil,
      modes: Map[String, String] = Map.empty) // repo path -> full|since|noop|rewind

  /** Run the ETL. Tables land as parquet under `outDir`:
    * repositories(repo_id, name, url), logs(commit_hash, parent_hash,
    * author_name, author_email, commit_datetime, commit_epoch, message,
    * insertions, deletions, repository_id), changed_files(commit_hash,
    * file_path) — DDL shapes from analyzer.rs:149-188 with an extra
    * epoch column for engine-neutral comparisons.
    */
  def run(
      spark: SparkSession,
      root: Path,
      outDir: String,
      config: EtlConfig = EtlConfig(),
      maxDepth: Int = 1,
      shardsPerRepo: Int = 1): EtlReport = {
    val etl = dataframes(spark, root, config, maxDepth, shardsPerRepo)
    write(etl, outDir)
    val rep = report(etl) // cheap: reads the still-cached extraction
    etl("events").unpersist() // extraction cache released after writes+report
    rep
  }

  /** Write the three reference tables from a [[dataframes]] map —
    * split out so callers (Main) can materialize the extraction under
    * a progress listener first, then write from cache.
    */
  def write(tables: Map[String, DataFrame], outDir: String): Unit = {
    tables("repositories").write.mode("overwrite").parquet(s"$outDir/repositories.parquet")
    tables("logs").write.mode("overwrite").parquet(s"$outDir/logs.parquet")
    tables("changed_files").write.mode("overwrite").parquet(s"$outDir/changed_files.parquet")
  }

  /** Build the output DataFrames without writing. Triggers NO Spark
    * jobs — callers that want the run report call [[report]] (which
    * does), and should unpersist the "events" entry when finished.
    *
    * `previous` is an earlier run's state, repo path → (repo_id, head)
    * ([[GitEtlIncr]]'s frontier; empty on a full run). Each repo then
    * walks only the commits after its recorded head
    * ([[GitLogSource.extractRepo]]'s `since`), kept repos keep their ids
    * and new repos take ids after the previous maximum. The "state"
    * entry is the next run's frontier.
    */
  def dataframes(
      spark: SparkSession,
      root: Path,
      config: EtlConfig,
      maxDepth: Int,
      shardsPerRepo: Int = 1,
      previous: Map[String, (Long, String)] = Map.empty): Map[String, DataFrame] = {
    import spark.implicits._

    val (candidates, ignored) = GitLogSource.scanDirectories(root, maxDepth, config.ignoredRepositories)
    val nShards = math.max(1, shardsPerRepo)
    val heads = previous.collect { case (p, (_, h)) if h != null => p -> h }

    // One task per repository (the reference's task-per-repo fanout,
    // analyzer.rs:222-230), with ALL per-repo subprocess work —
    // HEAD validation, remote-url lookup, `git log` — inside the task:
    // driver prep is O(1) filesystem metadata per directory, so a
    // 100k-repo work-list doesn't serialize minutes of rev-parse calls
    // before the job starts. Extraction is STREAMING: the -z byte
    // stream is parsed token-by-token, so executor memory per repo is
    // O(one commit), not O(history) — the reference holds each repo's
    // full history in a Vec (repository.rs:114,185), its main scale
    // hazard.
    //
    // Persisted: the one extraction pass feeds the repositories dim,
    // logs, changed_files, AND the report — without caching, every
    // downstream action would re-run `git log` over every repo.
    // shardsPerRepo > 1 spreads each history over several tasks (hash-
    // sliced via rev-list + log --stdin) — the giant-repo straggler
    // mitigation; shard 0 carries the repo/error events.
    val work = candidates.flatMap(p => (0 until nShards).map(sh => (p.toString, sh)))
    val events = spark
      .createDataset(work)
      .repartition(math.max(1, work.size))
      .mapPartitions(_.flatMap { case (p, sh) =>
        GitLogSource.extractRepo(Paths.get(p), heads.get(p), sh, nShards)
      })
      .toDF()
      .persist()

    // Repositories dimension from the VALIDATED WORK-LIST (kind=repo
    // events), not from extracted commits: a repo that validates but
    // yields zero non-merge commits still gets its row, matching the
    // reference's unconditional repository insert (analyzer.rs:299-310)
    // and keeping report.analyzed consistent with the table.
    //
    // Deterministic surrogate key: dense_rank over (name, path). The
    // repo identity key is the unique repo_path — two checkouts with
    // the same directory basename (root/team1/app, root/team2/app) are
    // distinct repositories and must not merge or duplicate; `name` in
    // the output stays the basename for reference parity.
    val repoEvents = events.filter(col("kind") === "repo")
      .select(col("repo_name").as("name"), col("repo_path").as("path"),
        col("repo_url").as("url"), col("head"))
    val repoDim =
      if (previous.isEmpty)
        repoEvents.withColumn("repo_id", dense_rank().over(Window.orderBy("name", "path")).cast("long"))
      else {
        // ids are STABLE across incremental runs (a full rebuild
        // renumbers by rank, an incremental deployment must not): new
        // repos sort first, so their ranks are 1..n after the previous
        // maximum; kept repos take their previous id
        val ids = previous.toSeq.map { case (p, (id, _)) => (p, id) }.toDF("p_path", "p_id")
        val maxId = previous.values.map(_._1).max
        repoEvents.join(broadcast(ids), col("path") === col("p_path"), "left")
          .withColumn("repo_id", coalesce(col("p_id"), lit(maxId) +
            dense_rank().over(Window.orderBy(col("p_id").isNotNull, col("name"), col("path")))))
          .drop("p_path", "p_id")
      }

    // Author normalization (J1): broadcast the email→name map and
    // override the *name* only (repository.rs:167-171). A literal
    // MapType rides inside codegen — zero shuffle, like the
    // reference's in-process HashMap.
    val authorMapCol = typedLit(config.authorMap)
    val logsRaw = events.filter(col("kind") === "commit")
      .select(col("commit.*"))
      .withColumn("author_name",
        coalesce(element_at(authorMapCol, col("author_email")), col("author_name")))
    val dim = repoDim.select(col("repo_id"), col("path"))
    val logs = logsRaw
      .join(broadcast(dim), logsRaw("repo_path") === dim("path"))
      .select(
        col("commit_hash"),
        col("parent_hash"),
        col("author_name"),
        col("author_email"),
        timestamp_seconds(col("commit_epoch")).as("commit_datetime"),
        col("commit_epoch"),
        col("message"),
        col("insertions"),
        col("deletions"),
        col("repo_id").as("repository_id"))
    // repository_id discriminates fork-shared commit hashes, matching
    // the (repository_id, commit_hash) logs key — without it a commit
    // reachable from two repos would double-join per-file rows.
    val changedFiles = logsRaw
      .join(broadcast(dim), logsRaw("repo_path") === dim("path"))
      .select(col("commit_hash"), explode(col("changed_files")).as("file_path"),
        col("repo_id").as("repository_id"))

    Map(
      "repositories" -> repoDim.select("repo_id", "name", "url"),
      "logs" -> logs,
      "changed_files" -> changedFiles,
      "state" -> repoDim.select("repo_id", "name", "path", "url", "head"),
      "ignored" -> ignored.toDF("name"),
      "events" -> events)
  }

  /** Materialize the run report from [[dataframes]] output — ONE Spark
    * job over the cached extraction (`dataframes` itself stays lazy):
    * each task counts its events per (kind, repo, error, mode) and the
    * driver merges the counts — a groupBy would add a shuffle-map job.
    * There are O(repos) groups. Per-repo commit counts are the
    * reference's per-repo progress lines, rendered post-hoc; zero-commit
    * repos report n = 0.
    */
  def report(tables: Map[String, DataFrame]): EtlReport = {
    def add(m: Map[ReportGroup, (Long, Long)], g: ReportGroup, nf: (Long, Long)) = {
      val (n, f) = m.getOrElse(g, (0L, 0L))
      m.updated(g, (n + nf._1, f + nf._2))
    }
    val groups = tables("events")
      .select(col("kind"), col("repo_name"), col("repo_path"), col("error"), col("mode"),
        when(col("kind") === "commit", size(col("commit.changed_files"))).otherwise(0))
      .rdd
      .aggregate(Map.empty[ReportGroup, (Long, Long)])(
        (m, r) => add(m, ReportGroup(r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4)), (1L, r.getInt(5).toLong)),
        (a, b) => b.foldLeft(a)((m, kv) => add(m, kv._1, kv._2)))
    val repos = groups.keys.filter(_.kind == "repo").toSeq.sortBy(g => (g.name, g.path))
    val commits = groups.collect { case (g, nf) if g.kind == "commit" => g.path -> nf }
    EtlReport(
      analyzed = repos.map(_.name),
      ignored = tables("ignored").collect().map(_.getString(0)).toSeq,
      failed = groups.keys.collect { case g if g.kind == "error" => g.path -> g.error }.toMap,
      nLogs = commits.values.map(_._1).sum,
      nChangedFiles = commits.values.map(_._2).sum,
      commitsPerRepo = repos.map(g => g.name -> commits.get(g.path).fold(0L)(_._1)),
      modes = repos.map(g => g.path -> g.mode).toMap)
  }

  /** The events of one kind for one repo — (commit count, changed-file
    * count) is aggregated per group; `error` / `mode` are set on error /
    * repo events. */
  private final case class ReportGroup(
      kind: String, name: String, path: String, error: String, mode: String)
}
