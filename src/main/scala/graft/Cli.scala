package graft

import org.apache.spark.sql.SparkSession

/** D10 — CLI over the library (reference `cli.py:23-419` exposes
  * cepea/conab/ibge/cache/snapshot/health subcommands; here the
  * engine-side equivalents — the reference's per-source fetch verbs
  * collapse into `verify`/`queries`, which exercise every registered
  * pipeline):
  *
  * {{{
  * sbt "runMain graft.Cli verify <sfDir> <outDir>"   # correctness dump
  * sbt "runMain graft.Cli bench"                     # timed run (env-config)
  * sbt "runMain graft.Cli explain <query...>"        # plan audit (= Bench plan)
  * sbt "runMain graft.Cli scale [query...]"          # scale-trend bench (SCALE.md)
  * sbt "runMain graft.Cli scaleup [src] [dst] [factor]" # synthesize a bigger SF
  * sbt "runMain graft.Cli reseed [src] [dst] [seed]" # seed-perturbed substrate
  * sbt "runMain graft.Cli solobench <query...>"      # solo min-of-3 timing (= Bench solo)
  * sbt "runMain graft.Cli streambench"               # streaming-sink artifact (STREAM.md)
  * sbt "runMain graft.Cli demo"                      # library tour
  * sbt "runMain graft.Cli queries"                   # list registered queries
  * sbt "runMain graft.Cli plugins"                   # list registered plugins
  * sbt "runMain graft.Cli health"                    # probe sweep + alerts
  * sbt "runMain graft.Cli doctor"                    # environment diagnostics
  * sbt "runMain graft.Cli config show"               # effective policy/config table
  * sbt "runMain graft.Cli cache stats <path>"        # KV cache audit
  * sbt "runMain graft.Cli cache purge-legacy <path>" # drop pre-versioning keys
  * sbt "runMain graft.Cli cache clear <path> [dataset] [olderThanSec]"
  * sbt "runMain graft.Cli snapshot list <base>"      # snapshots + size/file facts
  * sbt "runMain graft.Cli snapshot show <base> <name>"        # manifest
  * sbt "runMain graft.Cli snapshot create <base> <name> <sfDir> <table...>"
  * sbt "runMain graft.Cli snapshot delete <base> <name>"
  * sbt "runMain graft.Cli dataset list <landingDir>"  # registered catalog
  * sbt "runMain graft.Cli dataset fetch <landingDir> <name> [limit]"
  * sbt "runMain graft.Cli cepea indicador <landingDir> [limit]"  # cli.py:41
  * sbt "runMain graft.Cli conab safras <landingDir> [limit]"     # cli.py:109
  * sbt "runMain graft.Cli conab produtos <landingDir>"           # cli.py:193
  * sbt "runMain graft.Cli ibge pam <landingDir> [limit]"         # cli.py:209
  * sbt "runMain graft.Cli ibge produtos <landingDir>"            # cli.py:282
  * sbt "runMain graft.Cli tx history <root>"          # commit log
  * sbt "runMain graft.Cli tx delete <root> <predicate>" # DV delete (MOR)
  * sbt "runMain graft.Cli tx purge <root>"            # materialize DVs
  * sbt "runMain graft.Cli tx clone <src> <dst>"       # zero-copy shallow clone
  * sbt "runMain graft.Cli tx vacuum <root> [keepLast]" # retention + orphans
  * }}}
  *
  * The reference's `snapshot use` (a config-file default) has no CLI
  * analogue here by design: deterministic replay is session-scoped in
  * the engine (D6 — `store/Snapshots` + the as-of filter), so the
  * library seam is the right place, not a process-global file.
  */
object Cli {

  /** Local session for the store verbs; built only when a verb needs
    * one (listing queries/plugins must not pay Spark startup).
    */
  private def session(): SparkSession =
    SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  def main(args: Array[String]): Unit = args.toList match {
    case "verify" :: rest if rest.size == 2 => Verify.main(rest.toArray)
    case "bench" :: _ => Bench.main(Array.empty)
    case "explain" :: rest if rest.nonEmpty => Bench.main(("plan" :: rest).toArray)
    case "scale" :: rest => tools.ScaleBench.main(rest.toArray)
    // synthesize a larger scale factor for the two-point scale proof
    // (src dst factor all optional — ScaleUp's defaults)
    case "scaleup" :: rest if rest.size <= 3 => tools.ScaleUp.main(rest.toArray)
    // seed-perturbed substrate for the second-seed oracle sweep
    case "reseed" :: rest if rest.size <= 3 => tools.Reseed.main(rest.toArray)
    // fresh-JVM-grade single-query timing (run `graft.Bench solo` via
    // runMain for a truly fresh JVM; the verb exists for discoverability)
    case "solobench" :: rest if rest.nonEmpty => Bench.main(("solo" :: rest).toArray)
    // streaming sink throughput + state-boundedness artifact (STREAM.md)
    case "streambench" :: _ => tools.StreamBench.main(Array.empty)
    case "demo" :: _ => Demo.main(Array.empty)
    case "queries" :: _ =>
      queries.QueryRegistry.all.sortBy(_.name).foreach { q =>
        val kind = if (q.oracle.isDefined) "oracle" else "rows-only"
        println(f"${q.name}%-28s $kind")
      }
    case "plugins" :: _ =>
      val ps = plugins.Plugins.list
      if (ps.isEmpty) println("no plugins registered")
      else ps.foreach(m =>
        println(f"${m.name}%-24s ${m.version}%-8s ${m.description}"))
    case "health" :: _ =>
      // fixture-probed sweep (this build has zero egress): demonstrates
      // the D8 surface — deployments register real HTTP probes in the
      // same SourceCheck seam (see graft.health.Checker)
      import graft.health._
      val checks = Seq(
        SourceCheck("cepea", () => Probe("<html/>", Some(0.97), Some(22L), Some(120L))),
        SourceCheck("conab", () => Probe("<html/>", None, None, Some(5400L))),
        SourceCheck("ibge", () => throw new RuntimeException("connect timeout (fixture)")))
      val sweep = Checker.runAll(checks)
      sweep.foreach(r =>
        println(f"${r.source}%-8s ${r.status}%-8s ${r.latencyMs}%6d ms  ${r.message}"))
      new AlertService(Seq(new LogNotifier)).dispatch(sweep)
      ()
    case "doctor" :: _ =>
      // environment diagnostics (reference `doctor` runs health/doctor
      // run_diagnostics): every fact below is live, not hardcoded
      val s = session()
      println(f"${"spark.version"}%-32s ${s.version}")
      println(f"${"java.version"}%-32s ${sys.props("java.version")}")
      println(f"${"scala.version"}%-32s ${util.Properties.versionNumberString}")
      println(f"${"spark.master"}%-32s ${s.sparkContext.master}")
      println(f"${"defaultParallelism"}%-32s ${s.sparkContext.defaultParallelism}")
      println(f"${"shuffle.partitions"}%-32s ${s.conf.get("spark.sql.shuffle.partitions")}")
      println(f"${"session.timeZone"}%-32s ${s.conf.get("spark.sql.session.timeZone")}")
      println(f"${"aqe.enabled"}%-32s ${s.conf.get("spark.sql.adaptive.enabled")}")
      println(f"${"registered queries"}%-32s ${queries.QueryRegistry.all.size}")
      println(f"${"registered plugins"}%-32s ${plugins.Plugins.list.size}")
      println(f"${"registered contracts"}%-32s ${validate.ContractRegistry.all.size}")
      graft.functions.GraftFunctions.register(s)
      val fnOk = scala.util.Try(
        s.sql("SELECT parse_br_decimal('1.234,5')").head.getDecimal(0)).isSuccess
      println(f"${"custom function registry"}%-32s ${if (fnOk) "ok" else "BROKEN"}")
      Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
        val present = new java.io.File(s"/root/testdata/$sf").isDirectory
        println(f"${s"testdata $sf"}%-32s ${if (present) "present" else "missing"}")
      }
    case "config" :: "show" :: _ =>
      println("=== Cache policies (per-source TTL / stale-max / smart expiry) ===")
      store.Policies.policies.toSeq.sortBy(_._1).foreach { case (src, p) =>
        println(f"  $src%-22s ttl=${p.ttlSeconds}%-8d staleMax=${p.staleMaxSeconds}%-8d smartExpiry=${p.smartExpiry}")
      }
      println(s"  default                ttl=${store.Policies.default.ttlSeconds}")
      println("=== KV cache ===")
      println(s"  maxEntries: ${store.KvCache.DefaultMaxEntries}")
      println("=== SLA tiers ===")
      health.Sla.tierSummary.toSeq.sortBy(_._1).foreach { case (t, d) =>
        println(f"  $t%-12s $d")
      }
      health.Sla.list.foreach { sla =>
        println(f"  ${sla.source}%-20s tier=${sla.tier}%-12s p95=${sla.latency.p95Ms}ms uptime=${sla.availability.uptimePct}%%")
      }
    case "cache" :: "clear" :: path :: rest if rest.size <= 2 =>
      val kv = new store.KvCache(session(), path)
      kv.load()
      val n = kv.clear(
        source = rest.headOption.filter(_ != "-"),
        olderThanSeconds = rest.drop(1).headOption.map(_.toLong))
      kv.persist()
      println(s"cleared $n entries")
    case "cache" :: "stats" :: path :: Nil =>
      val kv = new store.KvCache(session(), path)
      kv.load()
      val legacy = store.Policies.isLegacyKey _
      // re-read entries through the public surface: per-key hit counts
      val keys = session().read.parquet(path)
        .select("key", "hitCount", "ttlSeconds").collect()
        .sortBy(_.getString(0))
      println(s"entries: ${keys.length}")
      println(s"legacy keys: ${keys.count(r => legacy(r.getString(0)))}")
      keys.foreach(r =>
        println(f"${r.getString(0)}%-48s hits=${r.getLong(1)}%-6d ttl=${r.getLong(2)}s"))
    case "cache" :: "purge-legacy" :: path :: Nil =>
      val kv = new store.KvCache(session(), path)
      kv.load()
      val n = kv.purgeLegacyKeys()
      kv.persist()
      println(s"purged $n legacy keys")
    case "snapshot" :: "list" :: base :: Nil =>
      val names = store.Snapshots.list(base)
      if (names.isEmpty) println(s"no snapshots under $base")
      else names.foreach { n =>
        val i = store.Snapshots.info(base, n)
        println(f"$n%-24s ${i.sizeBytes / 1024.0 / 1024.0}%8.2f MB  ${i.fileCount}%4d files  sources: ${i.sources.mkString(", ")}")
      }
    case "snapshot" :: "delete" :: base :: name :: Nil =>
      if (store.Snapshots.delete(base, name)) println(s"deleted snapshot '$name'")
      else {
        System.err.println(s"'$name' under $base is not a snapshot (no manifest)")
        sys.exit(1)
      }
    case "snapshot" :: "show" :: base :: name :: Nil =>
      println(store.Snapshots.manifest(base, name))
    case "snapshot" :: "create" :: base :: name :: sfDir :: tables if tables.nonEmpty =>
      val s = session()
      val entries = store.Snapshots.create(s, base, name,
        tables.map(t => s"driver/$t" -> queries.T.load(s, sfDir, t)).toMap)
      entries.foreach(e => println(s"captured ${e.source}/${e.dataset}: ${e.rows} rows"))
    case "dataset" :: "list" :: landing :: Nil =>
      // the engine analogue of the reference's conab/ibge `produtos`
      // listings: what the catalog serves, with its contract identity
      val s = session()
      datasets.StandardDatasets.register(s, landing)
      datasets.DatasetRegistry.list().foreach { n =>
        val d = datasets.DatasetRegistry.get(n).get
        println(f"$n%-20s contract=${d.contract.name}%-24s sources=${d.sources.sortBy(_.priority).map(_.name).mkString(",")}")
      }
    case "dataset" :: "fetch" :: landing :: name :: rest if rest.size <= 1 =>
      fetchDataset(landing, name, rest.headOption.map(_.toInt).getOrElse(10))

    // the reference's per-SOURCE fetch verbs (`cli.py` cepea/conab/
    // ibge apps), each a named alias onto the catalog entry that
    // carries that source's pipeline — same fallback chain, same
    // contract gate, reference-familiar spelling
    case "cepea" :: "indicador" :: landing :: rest if rest.size <= 1 =>
      fetchDataset(landing, "preco_diario", rest.headOption.map(_.toInt).getOrElse(10))
    case "conab" :: "safras" :: landing :: rest if rest.size <= 1 =>
      fetchDataset(landing, "safra_graos", rest.headOption.map(_.toInt).getOrElse(10))
    case "ibge" :: "pam" :: landing :: rest if rest.size <= 1 =>
      fetchDataset(landing, "pam", rest.headOption.map(_.toInt).getOrElse(10))
    case ("conab" | "ibge") :: "produtos" :: _ :: Nil =>
      // the reference's `produtos` listings print each dataset's
      // product dimension; the engine analogue is the contract's
      // declared columns + the canonical crop dimension
      println("canonical products (crop dimension):")
      dims.Dims.cropAliases.map(_._2).distinct.sorted.grouped(8)
        .foreach(g => println("  " + g.mkString(", ")))

    // transactional-store maintenance verbs (the Delta-CLI shapes:
    // DESCRIBE HISTORY / DELETE / OPTIMIZE-purge / VACUUM)
    case "tx" :: "history" :: root :: Nil =>
      store.TxStore.history(session(), root).collect().foreach { r =>
        println(f"v${r.getLong(0)}%-6s ${r.getString(1)}%-20s parent=${if (r.isNullAt(2)) "-" else r.getLong(2).toString}%-6s files=${r.getLong(3)}")
      }
    case "tx" :: "delete" :: root :: predicate :: Nil =>
      // merge-on-read: positions-only sidecar, files untouched
      val v = store.TxStore.commitDeleteVectors(session(), root,
        org.apache.spark.sql.functions.expr(predicate))
      println(s"committed v$v (deletion vectors for: $predicate)")
    case "tx" :: "purge" :: root :: Nil =>
      val v = store.TxStore.commitPurgeDeletes(session(), root)
      println(s"committed v$v (deletion vectors materialized)")
    case "tx" :: "clone" :: src :: dst :: Nil =>
      store.TxStore.cloneTable(session(), src, dst)
      println(s"cloned $src (current) -> $dst v1 (zero-copy, linked)")
    case "tx" :: "vacuum" :: root :: rest if rest.size <= 1 =>
      val keep = rest.headOption.map(_.toInt).getOrElse(3)
      val expired = store.TxStore.expireVersions(root, keepLast = keep)
      val orphans = store.TxStore.vacuum(root)
      println(s"expired versions: ${if (expired.isEmpty) "none" else expired.mkString(", ")}; " +
        s"orphans removed: ${if (orphans.isEmpty) "none" else orphans.mkString(", ")}")

    case other =>
      System.err.println(
        s"unknown command ${other.mkString(" ")}; use: verify <sfDir> <outDir> | bench | " +
          "explain <q...> | scale [q...] | scaleup [src] [dst] [factor] | " +
          "reseed [src] [dst] [seed] | solobench <q...> | streambench | " +
          "demo | queries | plugins | health | doctor | " +
          "config show | cache stats|purge-legacy|clear <path> | " +
          "snapshot list|show|create|delete ... | dataset list|fetch <landing> ... | " +
          "cepea indicador <landing> | conab safras|produtos <landing> | " +
          "ibge pam|produtos <landing> | tx history|delete|purge|clone|vacuum <root> ...")
      sys.exit(2)
  }

  /** Fetch through the prioritized fallback chain → normalize →
    * contract-validate, then print provenance + a bounded preview
    * (the shape of every reference fetch command).
    */
  private def fetchDataset(landing: String, name: String, limit: Int): Unit = {
    val s = session()
    datasets.StandardDatasets.register(s, landing)
    datasets.DatasetRegistry.get(name) match {
      case None =>
        System.err.println(
          s"unknown dataset '$name'; have: ${datasets.DatasetRegistry.list().mkString(", ")}")
        sys.exit(1)
      case Some(d) =>
        val (df, meta) = d.fetch()
        println(s"dataset: ${meta.dataset}")
        println(s"source: ${meta.source}")
        println(s"records: ${meta.records}")
        println(s"contract: ${meta.contractVersion}")
        println(s"attempted: ${meta.attemptedSources.map(a => s"${a._1}=${a._2}").mkString(", ")}")
        df.show(limit, truncate = false)
    }
  }
}
