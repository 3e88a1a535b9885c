"""The workloads: input generation, the timed call sequence, output
checks, and the layer-alone calls of the traced run.

A workload's ``run`` is one closed-loop request: the next run starts only
after the previous one returned.  Checks run outside the timed region and
return a list of error strings (empty = correct).
"""

from __future__ import annotations

import glob
import json
import math
import os

import inputs

SIZES = {
    "ingest_long": {
        "full": {"n_files": 4, "n_signals": 16, "n_records": 50},
        "tiny": {"n_files": 2, "n_signals": 2, "n_records": 10},
    },
    "catalog_gappy_append": {
        "full": {"n_files": 8, "n_signals": 8, "n_records": 120},
        "tiny": {"n_files": 2, "n_signals": 2, "n_records": 12},
    },
}


def _noop(df) -> None:
    """Execute every column of a plan without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def _json_rows(out_dir: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.json"))):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def _close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


class EdfWorkload:
    """Shared state and the shared layer-alone calls of the EDF workloads.

    A workload implements ``generate()``, ``corrupt()``, ``run(spark, tr)``,
    ``check(result)`` and ``layers_alone(spark, tr)``; ``generate`` sets
    ``self.inp`` to the inputs and the expectations derived from them.
    """

    name = ""
    existing = None  # registry DataFrame for append mode

    def __init__(self, root: str, seed: int, size: str):
        self.root = root
        self.seed = seed
        self.params = SIZES[self.name][size]
        self.out = os.path.join(root, "out")

    def attach(self, spark) -> None:
        """Per-session preparation outside the timed region."""

    def check_once(self, spark) -> list[str]:
        """A check too costly to repeat after every run."""
        return []

    def _layers_alone(self, spark, tr, decode_samples: bool, annotations: bool):
        """The EDF layers shared by both EDF workloads; returns counts and
        the materialized frames the publish layers take as input."""
        from pyspark.sql import functions as F

        from processor_edf_spark import pipeline
        from processor_edf_spark.operators import channels as ch_ops
        from processor_edf_spark.operators import sessionize
        from processor_edf_spark.sources import edf

        held, counts = [], {}

        def hold(df):
            df = df.persist()
            df.count()
            held.append(df)
            return df

        edf_dir = self.inp.edf_dir
        with tr.span("sources.edf.scan_edf_files", kind="alone"):
            _noop(edf.scan_edf_files(spark, edf_dir))
        binary = hold(edf.scan_edf_files(spark, edf_dir))
        frames = {}
        if decode_samples:
            with tr.span("sources.edf.decode_samples", kind="alone"):
                counts["sources.edf.decode_samples_rows"] = edf.decode_samples(binary).count()
            frames["samples"] = hold(edf.decode_samples(binary))
        with tr.span("sources.edf.decode_chunk_runs", kind="alone"):
            _noop(edf.decode_chunk_runs(binary))
        with tr.span("sources.edf.parse_signal_headers", kind="alone"):
            _noop(edf.parse_signal_headers(binary))
        if annotations:
            with tr.span("sources.edf.decode_annotations", kind="alone"):
                _noop(edf.decode_annotations(binary))
            frames["annotations"] = hold(edf.decode_annotations(binary))
        chunk_runs = hold(edf.decode_chunk_runs(binary))
        headers = hold(edf.parse_signal_headers(binary))

        # build_channel_metadata's signal dimension, as the pipeline derives it
        signal_dim = hold(
            headers.filter(~F.col("is_annotation")).select(
                "file",
                "signal_idx",
                F.trim(F.col("label")).alias("name"),
                F.col("phy_dim").alias("unit"),
                "rate",
                F.lit("CONTINUOUS").alias("type"),
            )
        )
        with tr.span("operators.channels.get_or_create_channels", kind="alone"):
            _noop(ch_ops.get_or_create_channels(signal_dim, self.existing))
        registry = hold(ch_ops.get_or_create_channels(signal_dim, self.existing))
        with tr.span("operators.channels.match_existing_channels", kind="alone"):
            _noop(
                ch_ops.match_existing_channels(
                    signal_dim.select("file", "name", "rate", "type"),
                    registry.select("id", "name", "rate", "type"),
                )
            )
        # every input maps same-name channels to one canonical id, so
        # keying runs by channel name groups them as the pipeline does
        runs = hold(
            chunk_runs.select(
                F.col("channel").alias("m_id"),
                "start",
                "end",
                "n_samples",
                F.col("rate").alias("m_rate"),
            )
        )
        counts["operators.sessionize.runs_in"] = runs.count()
        merged = sessionize.merge_chunk_runs(runs, id_col="m_id", rate_col="m_rate")
        with tr.span("operators.sessionize.merge_chunk_runs", kind="alone"):
            _noop(merged)
        counts["operators.sessionize.chunks_out"] = merged.count()
        with tr.span("pipeline.build_channel_metadata", kind="alone"):
            _noop(pipeline.build_channel_metadata(chunk_runs, headers, self.existing))
        frames["channels"] = hold(
            pipeline.build_channel_metadata(chunk_runs, headers, self.existing)
        )
        return counts, frames, held


class IngestLong(EdfWorkload):
    """Long contiguous recordings, full publish: samples to parquet plus
    channel metadata JSON."""

    name = "ingest_long"

    def generate(self) -> None:
        self.inp = inputs.make_ingest(self.root, self.seed, **self.params)

    def corrupt(self) -> None:
        path = sorted(glob.glob(os.path.join(self.inp.edf_dir, "*.edf")))[0]
        with open(path, "r+b") as f:
            f.seek(-2, os.SEEK_END)  # last sample of the last signal
            new = b"\xff\x7f" if f.read(2) != b"\xff\x7f" else b"\x00\x80"
            f.seek(-2, os.SEEK_END)
            f.write(new)

    def run(self, spark, tr):
        from processor_edf_spark.pipeline import process_edf_directory
        from processor_edf_spark.sinks.writers import (
            write_channels_json,
            write_samples_parquet,
        )

        with tr.span("pipeline.process_edf_directory"):
            samples, channels, _ = process_edf_directory(spark, self.inp.edf_dir)
        with tr.span("sinks.writers.write_samples_parquet"):
            write_samples_parquet(samples, os.path.join(self.out, "samples"))
        with tr.span("sinks.writers.write_channels_json"):
            write_channels_json(channels, os.path.join(self.out, "channels"))

    def check(self, result) -> list[str]:
        import pyarrow as pa
        import pyarrow.dataset as ds

        errors = []
        part = ds.partitioning(pa.schema([("file", pa.string())]), flavor="hive")
        table = ds.dataset(
            os.path.join(self.out, "samples"), format="parquet", partitioning=part
        ).to_table(columns=["file", "channel", "t_usec", "value"])
        if table.num_rows != self.inp.n_samples:
            errors.append(f"parquet rows {table.num_rows} != {self.inp.n_samples}")
        agg = table.group_by(["file", "channel"]).aggregate(
            [
                ("value", "count"),
                ("value", "min"),
                ("value", "max"),
                ("value", "sum"),
                ("t_usec", "min"),
                ("t_usec", "max"),
            ]
        )
        got = {(r["file"], r["channel"]): r for r in agg.to_pylist()}
        if set(got) != set(self.inp.sample_stats):
            errors.append(f"(file, channel) keys differ: {sorted(got)[:4]}")
        for key, exp in self.inp.sample_stats.items():
            r = got.get(key)
            if r is None:
                continue
            ok = (
                r["value_count"] == exp["count"]
                and _close(r["value_min"], exp["min"], rel=1e-12, abs_=1e-9)
                and _close(r["value_max"], exp["max"], rel=1e-12, abs_=1e-9)
                and _close(r["value_sum"], exp["sum"], abs_=1e-6 * exp["count"])
                and r["t_usec_min"] == exp["t_min"]
                and r["t_usec_max"] == exp["t_max"]
            )
            if not ok:
                errors.append(f"sample stats differ for {key}: {r} vs {exp}")
        errors += _check_channel_rows(
            _json_rows(os.path.join(self.out, "channels")), self.inp.channels
        )
        return errors

    def layers_alone(self, spark, tr) -> dict:
        from processor_edf_spark.sinks.writers import (
            write_channels_json,
            write_samples_parquet,
        )

        counts, frames, held = self._layers_alone(
            spark, tr, decode_samples=True, annotations=False
        )
        out = os.path.join(self.out, "alone")
        with tr.span("sinks.writers.write_samples_parquet", kind="alone"):
            write_samples_parquet(frames["samples"], os.path.join(out, "samples"))
        parquet_bytes = sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(out, "samples", "*", "*.parquet"))
        )
        counts["sinks.writers.parquet_bytes_per_sample"] = parquet_bytes / self.inp.n_samples
        with tr.span("sinks.writers.write_channels_json", kind="alone"):
            write_channels_json(frames["channels"], os.path.join(out, "channels"))
        for df in held:
            df.unpersist()
        return counts


def _check_channel_rows(
    rows: list[dict], expected: dict[str, dict], chunk_ends: bool = True
) -> list[str]:
    """Channel records keyed by name (ids are not stable, see NOTES.md).
    ``chunk_ends=False`` compares chunks by index and start only."""
    n = 3 if chunk_ends else 2
    errors = []
    by_name = {}
    for r in rows:
        if r["name"] in by_name:
            errors.append(f"channel {r['name']} published twice")
        by_name[r["name"]] = r
    if set(by_name) != set(expected):
        errors.append(f"channel names {sorted(by_name)} != {sorted(expected)}")
    for name, exp in expected.items():
        r = by_name.get(name)
        if r is None:
            continue
        chunks = [(c["index"], c["start"], c.get("end"))[:n] for c in r["contiguousChunks"]]
        if (
            r["num_values"] != exp["num_values"]
            or r["start"] != exp["start"]
            or r["end"] != exp["end"]
            or chunks != [c[:n] for c in exp["chunks"]]
        ):
            errors.append(
                f"channel {name}: num_values={r['num_values']} start={r['start']} "
                f"end={r['end']} chunks={len(chunks)} differs from the generator's"
            )
    return errors


class CatalogGappyAppend(EdfWorkload):
    """Many short gappy EDF+D recordings appended to an existing channel
    registry; publishes channel metadata and annotations only."""

    name = "catalog_gappy_append"

    def generate(self) -> None:
        self.inp = inputs.make_catalog(self.root, self.seed, **self.params)

    def corrupt(self) -> None:
        # drop the last data record of the last file: the decoder reads
        # only complete records, so counts and chunk bounds must move
        path = sorted(glob.glob(os.path.join(self.inp.edf_dir, "*.edf")))[-1]
        rec_bytes = 2 * (self.params["n_signals"] * inputs.RATE + inputs.ANN_NR)
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) - rec_bytes)

    def attach(self, spark) -> None:
        # the platform's registry from a prior publication of these channels
        self.existing = spark.createDataFrame(
            self.inp.registry, "id string, name string, rate double, type string"
        )

    def run(self, spark, tr):
        from processor_edf_spark.pipeline import (
            channel_dicts,
            process_edf_directory,
            validate_channels,
        )
        from processor_edf_spark.sinks.writers import write_annotations_json

        with tr.span("pipeline.process_edf_directory"):
            _, channels, annotations = process_edf_directory(
                spark, self.inp.edf_dir, existing_channels=self.existing
            )
        with tr.span("pipeline.validate_channels"):
            validated = validate_channels(channels)
        with tr.span("pipeline.channel_dicts"):
            dicts = channel_dicts(validated.filter("valid"))
        with tr.span("sinks.writers.write_annotations_json"):
            write_annotations_json(annotations, os.path.join(self.out, "annotations"))
        return dicts

    def check(self, result) -> list[str]:
        rows = []
        for d in result:
            # channel_dicts carries chunk starts, not ends or counts: the
            # last chunk's sample count follows from its span at the rate
            last = d["contiguousChunks"][-1]
            n_last = round((d["end"] - last["start"]) * d["rate"] / inputs.USEC) + 1
            rows.append({**d, "num_values": last["index"] + n_last})
        errors = _check_channel_rows(rows, self.inp.channels, chunk_ends=False)
        got = sorted(
            (r["file"], r["record"], r["onset_sec"], r["text"])
            for r in _json_rows(os.path.join(self.out, "annotations"))
        )
        if got != self.inp.events:
            errors.append(f"annotations: {len(got)} rows, expected {len(self.inp.events)}")
        return errors

    def check_once(self, spark) -> list[str]:
        """Full channel rows, chunk ends and validation violations — the
        fields the published dicts do not carry."""
        from processor_edf_spark.pipeline import process_edf_directory, validate_channels

        _, channels, _ = process_edf_directory(
            spark, self.inp.edf_dir, existing_channels=self.existing
        )
        rows = [r.asDict(recursive=True) for r in validate_channels(channels).collect()]
        errors = [
            f"channel {r['name']} violations {r['violations']}" for r in rows if r["violations"]
        ]
        return errors + _check_channel_rows(rows, self.inp.channels)

    def layers_alone(self, spark, tr) -> dict:
        from processor_edf_spark.pipeline import channel_dicts, validate_channels
        from processor_edf_spark.sinks.writers import write_annotations_json

        counts, frames, held = self._layers_alone(
            spark, tr, decode_samples=False, annotations=True
        )
        with tr.span("pipeline.validate_channels", kind="alone"):
            _noop(validate_channels(frames["channels"]))
        with tr.span("pipeline.channel_dicts", kind="alone"):
            channel_dicts(frames["channels"])
        with tr.span("sinks.writers.write_annotations_json", kind="alone"):
            write_annotations_json(
                frames["annotations"], os.path.join(self.out, "alone", "annotations")
            )
        for df in held:
            df.unpersist()
        return counts


WORKLOADS = {w.name: w for w in (IngestLong, CatalogGappyAppend)}
