"""Traced-run probes of the layers Spark runs outside the driver.

``format("lance")`` plans (``schema()``, ``reader()``, ``pushFilters()``,
``partitions()``) and decodes (``read()``) inside Python workers, where the
driver cannot time them. A traced run replays the same public calls in the
driver right after the op, outside its timing, and records the layer
numbers from the replay.
"""

from __future__ import annotations

import time

from lance_trino_spark.format import lance_native as ln
from lance_trino_spark.format.dataset import LanceDataset
from lance_trino_spark.sources.lance_datasource import LanceSparkDataSource


def replay_scan(run, path: str, op_wall_s: float, options: dict | None = None,
                filters=(), limit_rows: int | None = None) -> None:
    """Replay one ``format("lance")`` read of ``path`` in the driver and
    record planning, manifest, decode and bridge numbers on ``run``.
    ``filters`` are the pushed-down ``pyspark.sql.datasource`` filters;
    ``limit_rows`` stops decoding once that many rows came back, as
    Spark's LIMIT does."""
    native = ln.is_native_dataset(path)
    opts = {"path": path}
    opts.update({k.lower(): str(v) for k, v in (options or {}).items()})
    with run.tracing():
        if native:
            with run.tracer.span("lance_native.manifest_open"):
                t = time.perf_counter()
                m = ln.read_native_manifest(
                    path, ln.resolve_native_read_version(path, opts))
                run.add("lance_native.manifest_open_ms",
                        1e3 * (time.perf_counter() - t))
            run.add("lance_native.versions", len(ln.list_native_versions(path)))
            total_frags = len(m.fragments)
        else:
            with run.tracer.span("dataset.open"):
                t = time.perf_counter()
                ds = LanceDataset.open(
                    path, version=int(opts["version"]) if "version" in opts else None)
                run.add("dataset.open_ms", 1e3 * (time.perf_counter() - t))
            total_frags = len([f for f in ds.manifest.fragments if f.num_rows > 0])

        with run.tracer.span("lance_datasource.plan"):
            t = time.perf_counter()
            source = LanceSparkDataSource(opts)
            reader = source.reader(source.schema())
            if filters:
                list(reader.pushFilters(list(filters)))
            parts = [p for p in reader.partitions()
                     if getattr(p, "frag_index", 0) >= 0]
            plan_ms = 1e3 * (time.perf_counter() - t)
        run.add("lance_datasource.plan_ms", plan_ms)
        run.add("lance_datasource.partitions_planned", len(parts))
        run.add("lance_datasource.fragments_pruned", total_frags - len(parts))

        decode_ms, useful, returned, decoded = [], 0, 0, 0
        layer = "lance_native" if native else "fragments"
        for p in parts:
            with run.tracer.span(f"{layer}.decode"):
                t = time.perf_counter()
                rows = sum(b.num_rows for b in reader.read(p))
                decode_ms.append(1e3 * (time.perf_counter() - t))
            useful += rows > 0
            returned += rows
            if native:
                decoded += m.fragments[p.frag_index].physical_rows or 0
            else:
                decoded += p.physical_rows or 0
            if limit_rows is not None and returned >= limit_rows:
                break
        run.add("lance_datasource.useful_partition_ratio",
                useful / len(parts) if parts else 1.0)
        for ms in decode_ms:
            run.add(f"{layer}.decode_ms", ms)
        run.add(f"{layer}.rows_decoded", decoded)
        if native:
            secs = sum(decode_ms) / 1e3
            if secs > 0:
                run.add("lance_native.decode_rows_per_s", decoded / secs)
            run.add("lance_native.late_mat_ratio",
                    returned / decoded if decoded else 1.0)
        run.add("spark.bridge_ms",
                max(0.0, 1e3 * op_wall_s - plan_ms - max(decode_ms, default=0.0)))


def replay_native_read(run, path: str, columns: list[str]) -> None:
    """Replay a driver-side ``LanceNativeDataset(path).to_arrow(columns)``
    call by call: the manifest open, then each fragment's decode."""
    with run.tracing():
        with run.tracer.span("lance_native.manifest_open"):
            t = time.perf_counter()
            m = ln.read_native_manifest(path)
            run.add("lance_native.manifest_open_ms", 1e3 * (time.perf_counter() - t))
        run.add("lance_native.versions", len(ln.list_native_versions(path)))
        secs, rows = 0.0, 0
        for frag in m.fragments:
            with run.tracer.span("lance_native.decode"):
                t = time.perf_counter()
                rows += ln.read_native_fragment(path, frag, m, columns).num_rows
                dt = time.perf_counter() - t
            run.add("lance_native.decode_ms", 1e3 * dt)
            secs += dt
        run.add("lance_native.rows_decoded", rows)
        if secs > 0:
            run.add("lance_native.decode_rows_per_s", rows / secs)
        run.add("lance_native.late_mat_ratio", 1.0)   # no filter: all rows return
