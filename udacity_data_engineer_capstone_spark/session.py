"""SparkSession factory tuned for this engine.

The reference creates a bare session with Hive support
(``/root/reference/etl.py:226-228``) and leaves every performance knob at
its default. Here we turn on the settings a large cluster run depends on:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for any pandas exchange — and, instead of hard-coding local
constants, a :class:`SizingProfile` that DERIVES the scale-sensitive
knobs (shuffle partitions, broadcast threshold, scan split costs,
streaming state-store parallelism) from cluster shape, so the same
code path sizes a laptop run and a 1000-executor submit. The
derivation rules are documented on :meth:`SizingProfile.derive` and in
SCALE.md §"Cluster sizing profile".
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

_MB = 1 << 20
_GB = 1 << 30


@dataclass(frozen=True)
class SizingProfile:
    """Cluster shape → Spark sizing knobs.

    Fields:

    - ``total_cores``: total executor cores across the cluster (local:
      the local[N] thread count).
    - ``mem_gb_per_core``: executor memory per core, if known. ``None``
      (the local default) leaves the broadcast threshold at Spark's
      default so AQE's runtime size-based promotion governs instead of
      a guess.
    - ``expected_input_gb``: expected bytes scanned/shuffled by a
      typical job, if known. Sizes the shuffle-partition count
      data-first; ``None`` falls back to the cores-first rule.
    - ``target_partition_bytes``: the post-shuffle / per-scan-split
      size partitions should land on (default 128 MB — large enough to
      amortize task overhead, small enough to fit several per core in
      executor memory with room for spill-free sorts).
    """

    name: str
    total_cores: int
    mem_gb_per_core: float | None = None
    expected_input_gb: float | None = None
    target_partition_bytes: int = 128 * _MB

    def derive(self) -> dict[str, str]:
        """Derivation rules (each one documented where it's computed):

        - ``spark.sql.shuffle.partitions`` =
          ``max(total_cores, ceil(expected_input_bytes /
          target_partition_bytes))`` — data-first when the input size
          is known (a 100 TB shuffle at 128 MB targets ⇒ ~820k map-side
          partitions, which AQE then coalesces per-stage to what each
          stage actually shuffles), cores-first otherwise (every core
          gets work; AQE coalescing makes over-partitioning cheap and
          under-partitioning is the only unrecoverable mistake).
        - ``spark.sql.streaming.statefulOperator.stateStorePartitions``
          (alias here: applied as the same shuffle conf at stream
          start) — stateful streaming parallelism is fixed at first
          checkpoint, so it uses the same derived number.
        - ``spark.sql.autoBroadcastJoinThreshold`` =
          ``clamp(mem_per_core / 32, 10 MB, 512 MB)`` when memory is
          known — a broadcast table is resident per-executor and
          build-side hashed per task; 1/32 of a core's memory share
          keeps even ``cores``-way concurrent broadcasts under a few
          percent of executor heap. Unknown memory ⇒ leave Spark's
          default (10 MB) and let AQE promote from observed sizes.
        - ``spark.sql.files.maxPartitionBytes`` =
          ``target_partition_bytes`` — scan splits land on the same
          size partitions the shuffle targets.
        - ``spark.sql.files.openCostInBytes`` =
          ``clamp(target_partition_bytes / 1024, 64 KB, 4 MB)`` — the
          open-cost floor packs many small files into one split; tying
          it to the partition target keeps small-file packing
          proportional (local 128 MB target ⇒ 128 KB, so multi-MB test
          inputs still split across cores; big-file clusters approach
          Spark's 4 MB default).
        """
        parts = self.total_cores
        if self.expected_input_gb is not None:
            parts = max(
                parts,
                math.ceil(
                    self.expected_input_gb * _GB / self.target_partition_bytes
                ),
            )
        open_cost = min(4 * _MB, max(64 * 1024, self.target_partition_bytes // 1024))
        conf = {
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.files.maxPartitionBytes": str(self.target_partition_bytes),
            "spark.sql.files.openCostInBytes": str(open_cost),
        }
        if self.mem_gb_per_core is not None:
            thresh = int(
                min(512 * _MB, max(10 * _MB, self.mem_gb_per_core * _GB / 32))
            )
            conf["spark.sql.autoBroadcastJoinThreshold"] = str(thresh)
        return conf


#: The test/bench harness shape: local[32], tiny inputs. Derives the
#: same 32 partitions / 128 KB open cost the engine always ran with —
#: now as the local instance of the general rule instead of constants.
LOCAL_PROFILE = SizingProfile(name="local", total_cores=32)


def profile_from_env() -> SizingProfile:
    """Build the active profile from the environment.

    - ``SPARK_GRAFT_CORES``: total executor cores → cluster profile.
    - ``SPARK_GRAFT_MEM_GB_PER_CORE``: executor GB per core (optional).
    - ``SPARK_GRAFT_INPUT_GB``: expected input/shuffle GB (optional).
    - ``SPARK_GRAFT_TARGET_PARTITION_MB``: partition size target
      (default 128).

    Unset ⇒ :data:`LOCAL_PROFILE` sized to ``SPARK_GRAFT_CPUS``
    (default 32), preserving the historical local behavior exactly.
    """
    tgt_mb = float(os.environ.get("SPARK_GRAFT_TARGET_PARTITION_MB", "128"))
    cores_env = os.environ.get("SPARK_GRAFT_CORES")
    if cores_env:
        mem = os.environ.get("SPARK_GRAFT_MEM_GB_PER_CORE")
        inp = os.environ.get("SPARK_GRAFT_INPUT_GB")
        return SizingProfile(
            name="cluster",
            total_cores=int(cores_env),
            mem_gb_per_core=float(mem) if mem else None,
            expected_input_gb=float(inp) if inp else None,
            target_partition_bytes=int(tgt_mb * _MB),
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        n = int(cpus)
    except ValueError:  # "*" → size to the host
        n = os.cpu_count() or 32
    return SizingProfile(
        name="local", total_cores=n, target_partition_bytes=int(tgt_mb * _MB)
    )


def get_spark(app_name: str = "udacity_data_engineer_capstone_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so the bench driver
    controls core count, and the ``SPARK_GRAFT_CORES`` / ``..._MEM_GB_PER_CORE``
    / ``..._INPUT_GB`` / ``..._TARGET_PARTITION_MB`` profile surface for
    cluster-shaped sizing (see :func:`profile_from_env`).

    A session already active in this process is returned as it is:
    ``getOrCreate`` with the engine's options would rewrite its runtime
    SQL confs (e.g. ``spark.sql.shuffle.partitions``) under every query
    that shares it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
    )
    # Parity with the reference's enableHiveSupport() (etl.py:228),
    # opt-in: this engine uses temp views and needs no metastore, but a
    # deployment with an existing Hive catalog can turn it on without
    # code changes (SPARK_GRAFT_HIVE=1 → derby/remote metastore per
    # spark-defaults). Off by default so tests never create a
    # metastore_db directory.
    if os.environ.get("SPARK_GRAFT_HIVE"):
        builder = builder.enableHiveSupport()
    return configure(builder).getOrCreate()


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to any builder (used when the driver owns the
    session). Scale-sensitive knobs come from the active
    :class:`SizingProfile`; the rest are scale-invariant engine policy."""
    builder = (
        builder
        # AQE: runtime partition coalescing, skew-join splitting, and
        # broadcast-join demotion/promotion from observed sizes. At 100 TB
        # this is what keeps a bad static shuffle-partition guess survivable.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Read TIMESTAMP(NANOS) parquet columns as longs; the events
        # loader rebuilds microsecond timestamps from them
        # (catalog._load_events). Set here so no query writes it.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in profile_from_env().derive().items():
        builder = builder.config(k, v)
    return builder


def _byte_string(v: str) -> int:
    """Parse a Spark byte-size string ("1048576b", "64k", "1MB", "512")."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", v.lower())
    if m is None:
        raise ValueError(f"not a byte size: {v!r}")
    unit = m.group(2)
    return int(m.group(1)) * (1024 ** ("kmgtp".index(unit) + 1) if unit else 1)


def sized_partitions(spark: SparkSession, nbytes: int) -> int:
    """Partition count for a persisted frame of ``nbytes``, by AQE's own
    coalescing arithmetic: one partition per
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` of data,
    at most ``sc.defaultParallelism`` and ``spark.sql.shuffle.partitions``,
    at least 1. A persisted frame keeps the partition count it was built
    with (AQE does not coalesce a cached plan), so a frame that later
    stages reuse is sized here, once, from its measured size."""
    min_part = _byte_string(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(nbytes / min_part),
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        ),
    )
