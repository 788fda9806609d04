package graft.tools

import org.apache.spark.sql.SparkSession

import graft.model.DumpIO
import graft.pipeline.{DatasetRunner, DatasetSpec, GrowthState, VersionStore}
import graft.sources.Fetcher

/** A named dataset definition the CLI can load by class name — the
  * Scala twin of the reference's Django label lookup
  * (`apps.get_model(label)` in management/base.py): the reference
  * resolves `grow_dataset <label>` to a Dataset model class; here
  * `Grow <provider>` resolves to an object implementing this trait.
  */
trait DatasetProvider {
  def spec: DatasetSpec
  def fetcher: Fetcher
}

/** Shared CLI plumbing for the management-command mains. */
object Commands {

  def session(app: String): SparkSession =
    graft.Tables.session(sys.env.getOrElse("GRAFT_MASTER", "local[4]"),
      sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "4").toInt, appName = app)

  /** Resolve a provider: registered label first ([[DataStorages]] —
    * the reference's `apps.get_model(label)` path), then
    * `Class.forName` a Scala `object` (or zero-arg class) implementing
    * [[DatasetProvider]]. */
  def provider(name: String): DatasetProvider =
    DataStorages.lookup(name).map(_.provider).getOrElse(
      (try Class.forName(name + "$").getField("MODULE$").get(null)
       catch { case _: ClassNotFoundException =>
         Class.forName(name).getDeclaredConstructor().newInstance() })
        .asInstanceOf[DatasetProvider])
}

/** Label-string → storage bundle resolver — the reference's
  * `DataStorages.from_label` (reference: datagrowth/datatypes/types.py:
  * 59-101): given a runtime label, hand back everything a command or
  * task needs to address a dataset — its provider, spec, collection
  * definitions, and (after [[DataStorages.loadInstances]]) the storage
  * root it lives under. The reference resolves Django model classes
  * through the app registry; here labels resolve through an explicit
  * registry apps populate at startup (the same bootstrap moment as
  * `DefaultsRegistry.registerDefaults`), with a dotted-class-name
  * fallback so unregistered providers stay addressable. */
final case class DataStorages(
    label: String,
    provider: DatasetProvider,
    spec: DatasetSpec,
    storeRoot: Option[String] = None) {
  def collections: Seq[graft.pipeline.CollectionDef] = spec.collections
}

object DataStorages {
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, DatasetProvider]

  /** Register `label` → provider (an app's ready hook). Labels are
    * case-insensitive, mirroring Django's `app_label.Model` lookup. */
  def register(label: String, provider: DatasetProvider): Unit =
    registry.put(label.toLowerCase, provider)

  def lookup(label: String): Option[DataStorages] =
    registry.get(label.toLowerCase).map(p => DataStorages(label, p, p.spec))

  /** `from_label` (types.py:67-77): resolve or die loudly — an
    * unresolvable label is a configuration error, not an empty
    * result. Falls back to dotted-class-name resolution. */
  def fromLabel(label: String): DataStorages =
    lookup(label).getOrElse {
      val p = try Commands.provider(label) catch {
        case e: Exception => throw new IllegalArgumentException(
          s"Expected to load a DatasetProvider through label '$label'", e)
      }
      DataStorages(label, p, p.spec)
    }

  /** `load_instances` (types.py:40-59): attach the concrete storage
    * location so downstream reads address the dataset's versions. */
  def loadInstances(label: String, storeRoot: String): DataStorages =
    fromLabel(label).copy(storeRoot = Some(storeRoot))

  private[graft] def reset(): Unit = registry.clear()
}

/** `grow_dataset` twin (reference grow_dataset.py:77-131): grows a
  * dataset through DatasetRunner with the reference command's knobs.
  *
  * Usage: Grow <providerClass> <storeRoot> [datasetArgs...]
  *          [--strategy freeze|reset|revise|stack] [--retry]
  *          [--limit N] [--seeds a,b,...]
  *
  * The reference's `--synchronous`/`--timeout`/`--wait-interval` have
  * no twin: the Spark driver IS synchronous (no Celery group to poll).
  */
object Grow {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Grow <providerClass> <storeRoot> [args...] " +
      "[--strategy s] [--retry] [--limit N] [--seeds a,b]")
    val p = Commands.provider(args(0))
    val storeRoot = args(1)
    var strategy: Option[String] = None
    var retry = false
    var limit = -2
    var seeds: Option[Seq[String]] = None
    val dsArgs = Seq.newBuilder[String]
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--strategy" => strategy = Some(args(i + 1)); i += 2
        case "--retry" => retry = true; i += 1
        case "--limit" => limit = args(i + 1).toInt; i += 2
        case "--seeds" => seeds = Some(args(i + 1).split(',').toSeq); i += 2
        case a => dsArgs += a; i += 1
      }
    }
    val spark = Commands.session("graft-grow")
    val store = new VersionStore(storeRoot, spark)
    val spec = strategy.fold(p.spec)(s => p.spec.copy(growthStrategy = s))
    val v = new DatasetRunner(store, p.fetcher)
      .grow(spec, dsArgs.result(), retry = retry, seeds = seeds, limit = limit)
    val sig = spec.signature(dsArgs.result())
    println(s"[grow] dataset=${spec.name} signature=$sig version=${v.version} " +
      s"state=${v.state} current=${v.isCurrent}")
  }
}

/** `dump_dataset` twin (reference dump_dataset.py / dump_resource.py):
  * dumps every collection of a signature's current (else latest)
  * version as distributed JSON lines under `<outDir>/<collection>/`.
  *
  * Usage: Dump <storeRoot> <signature> <outDir>
  */
object Dump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Dump <storeRoot> <signature> <outDir>")
    val Array(storeRoot, sig, outDir) = args
    val spark = Commands.session("graft-dump")
    val store = new VersionStore(storeRoot, spark)
    val v = store.currentVersion(sig).orElse(store.latestVersion(sig))
      .getOrElse(throw new IllegalArgumentException(
        s"no versions for signature '$sig' under $storeRoot"))
    val names = store.collectionNames(sig, v.version)
    require(names.nonEmpty, s"version v${v.version} of '$sig' has no collections")
    names.foreach { name =>
      DumpIO.dumpDocuments(store.readCollection(sig, v.version, name), s"$outDir/$name")
      println(s"[dump] $sig v${v.version} collection=$name -> $outDir/$name")
    }
  }
}

/** `load_dataset` twin (reference load_dataset.py / load_resource.py):
  * loads a [[Dump]] directory into a NEW promoted version of the target
  * signature (the reference's delete-then-bulk_create becomes a fresh
  * snapshot version — no in-place mutation).
  *
  * Usage: Load <dumpDir> <storeRoot> <signature>
  */
object Load {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Load <dumpDir> <storeRoot> <signature>")
    val Array(dumpDir, storeRoot, sig) = args
    val spark = Commands.session("graft-load")
    val dir = java.nio.file.Paths.get(dumpDir)
    require(java.nio.file.Files.isDirectory(dir), s"no dump at $dumpDir")
    val stream = java.nio.file.Files.list(dir)
    val names =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
          .map(_.getFileName.toString).toSeq.sorted
      } finally stream.close()
    require(names.nonEmpty, s"dump at $dumpDir holds no collections")
    val store = new VersionStore(storeRoot, spark)
    val v = store.createVersion(sig, "load")
    names.foreach { name =>
      val docs = DumpIO.loadDocuments(spark, s"$dumpDir/$name")
      store.writeCollection(sig, v.version, name, docs)
      println(s"[load] $dumpDir/$name -> $sig v${v.version} collection=$name")
    }
    store.updateVersion(sig, v.copy(state = GrowthState.Complete))
    store.promote(sig, v.version)
    println(s"[load] promoted $sig v${v.version}")
  }
}
