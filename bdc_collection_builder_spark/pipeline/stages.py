"""Pipeline stages: download → correction → publish → post.

Each stage is a DataFrame transformation over scene rows. Metadata work
is pure Catalyst; side-effecting work (network download, subprocess
processor, raster IO) runs inside ``mapInPandas`` with the exact
control flow of the reference. Download has a REAL wire path
(:func:`http_download_stage` — genuine HTTP with failover + checksum
validation; loopback fixture providers in the sandbox, real endpoints
in production) alongside the deterministic simulator
(:func:`download_stage`); the processor stage likewise has a real
child-process path (:func:`subprocess_correction_stage` — actual spawn
+ exit-code-driven version fallback; a local fixture install here, the
Docker/Singularity argv in production). The Spark-side plumbing
(schemas, batch shapes,
partitioning by scene) is the real design: on a cluster each partition
is a batch of scenes and the stage UDFs run the same loops against real
providers/processors.

Reference control flow being mirrored:
- download failover across ordered providers, retry on offline data
  (tasks.py:129-240; collect.py:86-137)
- processor choice from collection metadata, version-fallback loop
  (tasks.py:243-346; processor.py:27-101)
- publish: per-band assets, band-index expressions, quicklook, item
  upsert (publish.py:184-617; index_generator.py:58-149)
- post: nodata-union quality mask (tasks.py:391-430; utils.py:277-378)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.store import CatalogStore

DOWNLOAD_SCHEMA = (
    "scene_id string, collection_id int, provider_used string, "
    "attempts int, compressed_file string, checksum string, status string"
)


# Offline-data simulation oracle (stand-in for DataOfflineError on LTA
# archives): provider p is "offline" for scene s iff
# int(md5(f"{s}:{p}").hexdigest()[:2], 16) % 5 == 0. Evaluated JVM-side
# in download_stage as conv(substr(md5(s||':'||p),1,2),16,10) % 5 = 0 —
# the DuckDB oracles in plans/sources.py decode the same digests.


def download_stage(scenes: DataFrame, provider_names: list[str]) -> DataFrame:
    """S2/S3 — download with provider-priority failover. The ordered
    provider list (J3 query result, collected — it is dimension-sized)
    is closed over by the UDF; each scene tries providers in order,
    falling through on offline/checksum errors exactly like
    tasks.py:205-236. Scene rows are processed per-partition — the
    stage parallelism IS partition parallelism, so the input is
    repartitioned by scene_id first: scene lists typically arrive as a
    handful of catalog-search result files, and an IO-bound stage
    running on one partition would serialize the whole fleet (at 100 TB
    the partition count bounds concurrent provider connections)."""
    # The simulator's md5 oracle (offline? per provider + checksum) is
    # computed JVM-side in whole-stage codegen — identical values to
    # hashlib (_simulated_offline), since conv(substr(md5(x),1,2),16,10)
    # IS int(digest[:2],16). The Python stage below only runs the
    # failover CONTROL FLOW over those flags, vectorized in numpy; with
    # a real downloader the flags become actual HTTP attempts and this
    # split stands: cheap per-scene metadata JVM-side, IO Python-side.
    n_prov = len(provider_names)
    off_flags = [
        (F.conv(F.substring(
            F.md5(F.concat(F.col("scene_id"), F.lit(f":{p}"))), 1, 2),
            16, 10).cast("int") % 5 == 0).alias(f"__off{i}")
        for i, p in enumerate(provider_names)
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        providers = np.array(provider_names, dtype=object)
        for pdf in batches:
            online = ~pdf[[f"__off{i}" for i in range(n_prov)]] \
                .to_numpy(dtype=bool)
            any_on = online.any(axis=1)
            first = online.argmax(axis=1)           # first online provider
            ok = pd.Series(any_on, index=pdf.index)
            sid = pdf["scene_id"]
            yield pd.DataFrame({
                "scene_id": sid,
                "collection_id": pdf["collection_id"],
                "provider_used":
                    pd.Series(providers[first], index=pdf.index)
                    .where(ok, None),
                "attempts": np.where(any_on, first + 1, n_prov)
                    .astype("int32"),
                "compressed_file":
                    ("/archive/downloads/" + sid + ".zip").where(ok, None),
                "checksum": pdf["__md5"].where(ok, None),
                "status": np.where(any_on, "SUCCESS", "OFFLINE"),
            })

    parallelism = scenes.sparkSession.sparkContext.defaultParallelism
    return (
        scenes.select("scene_id", "collection_id")
        .repartition(parallelism, "scene_id")
        .select("scene_id", "collection_id", *off_flags,
                F.md5("scene_id").alias("__md5"))
        .mapInPandas(run, DOWNLOAD_SCHEMA)
    )


CORRECTION_SCHEMA = (
    "scene_id string, collection_id int, processor string, "
    "processor_version string, output_file string, returncode int"
)

PROCESSOR_VERSIONS = {"sen2cor": ["2.11.0", "2.10.0", "2.5.5"],
                      "lasrc": ["2.0.1"]}


def correction_stage(downloaded: DataFrame,
                     collections: DataFrame) -> DataFrame:
    """Z2 — external black-box processor stage. Processor comes from the
    collection metadata (tasks.py:259-260); the UDF walks the version
    fallback list like processor.py:27-101 walks Sen2Cor installs. The
    collections dimension is broadcast-joined — the scene side never
    shuffles."""
    with_proc = downloaded.filter(F.col("status") == "SUCCESS").join(
        F.broadcast(collections.select(
            F.col("id").alias("collection_id"),
            F.get_json_object("metadata", "$.processors[0].name").alias("processor"))),
        "collection_id")

    # Version fallback resolved JVM-side: the candidate list per
    # processor is a dimension-sized literal; the "does this install
    # work" md5 oracle evaluates inside codegen (same value as
    # hashlib's int(digest[:2],16) % 7), and the first passing
    # candidate is picked with filter + get — null when none pass.
    # The Python stage is the subprocess seam: a real deployment execs
    # the processor there, consuming the resolved version.
    proc = F.coalesce(F.col("processor"), F.lit("sen2cor"))
    cand_arr = F.array(F.lit("0"))
    for pname, versions in PROCESSOR_VERSIONS.items():
        cand_arr = F.when(
            proc == pname, F.array(*[F.lit(v) for v in versions])
        ).otherwise(cand_arr)
    version_ok = lambda c: (  # noqa: E731 — inline oracle predicate
        F.conv(F.substring(
            F.md5(F.concat_ws(":", F.col("scene_id"), proc, c)), 1, 2),
            16, 10).cast("int") % 7 != 0)
    resolved = F.get(F.filter(cand_arr, version_ok), 0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sid = pdf["scene_id"]
            success = pdf["__version"].notna()
            yield pd.DataFrame({
                "scene_id": sid,
                "collection_id": pdf["collection_id"],
                "processor": pdf["processor"],
                "processor_version": pdf["__version"],
                "output_file":
                    ("/archive/corrected/" + sid).where(success, None),
                "returncode": (~success).astype("int32"),
            })

    return with_proc.select(
        "scene_id", "collection_id", proc.alias("processor"),
        resolved.alias("__version"),
    ).mapInPandas(run, CORRECTION_SCHEMA)


FUSED_SCHEMA = (
    DOWNLOAD_SCHEMA + ", processor string, processor_version string, "
    "output_file string, returncode int, in_catalog boolean"
)


def download_correction_stage(scenes: DataFrame, provider_names: list[str],
                              collections: DataFrame) -> DataFrame:
    """Fused download + correction (S2/S3 + Z2) in ONE ``mapInPandas``
    pass — the chained form pays two Arrow serialization boundaries per
    scene batch (JVM→Python→JVM→Python→JVM) and the boundary, not the
    work, dominates the stage cost. Everything the correction stage
    needs from the JVM (processor from the broadcast collections dim,
    version-fallback resolution) is computable BEFORE the download
    control flow runs, so both stages' Python loops run back-to-back on
    the same Arrow batch.

    Semantics are identical to
    ``correction_stage(download_stage(...), ...)``; use
    :func:`split_fused` to recover the per-stage DataFrames (pinned by
    tests/test_pipeline.py::test_fused_stage_matches_chained). On a
    real deployment the same fusion holds: one Python worker holds the
    scene batch across download and subprocess exec, halving IPC."""
    n_prov = len(provider_names)
    off_flags = [
        (F.conv(F.substring(
            F.md5(F.concat(F.col("scene_id"), F.lit(f":{p}"))), 1, 2),
            16, 10).cast("int") % 5 == 0).alias(f"__off{i}")
        for i, p in enumerate(provider_names)
    ]

    parallelism = scenes.sparkSession.sparkContext.defaultParallelism
    with_proc = (
        scenes.select("scene_id", "collection_id")
        .repartition(parallelism, "scene_id")
        .join(
            F.broadcast(collections.select(
                F.col("id").alias("collection_id"),
                F.get_json_object("metadata", "$.processors[0].name")
                .alias("__proc_meta"),
                F.lit(True).alias("__in_cat"))),
            "collection_id", "left")
    )
    proc = F.coalesce(F.col("__proc_meta"), F.lit("sen2cor"))
    cand_arr = F.array(F.lit("0"))
    for pname, versions in PROCESSOR_VERSIONS.items():
        cand_arr = F.when(
            proc == pname, F.array(*[F.lit(v) for v in versions])
        ).otherwise(cand_arr)
    version_ok = lambda c: (  # noqa: E731 — inline oracle predicate
        F.conv(F.substring(
            F.md5(F.concat_ws(":", F.col("scene_id"), proc, c)), 1, 2),
            16, 10).cast("int") % 7 != 0)
    resolved = F.get(F.filter(cand_arr, version_ok), 0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        providers = np.array(provider_names, dtype=object)
        for pdf in batches:
            online = ~pdf[[f"__off{i}" for i in range(n_prov)]] \
                .to_numpy(dtype=bool)
            any_on = online.any(axis=1)
            first = online.argmax(axis=1)
            ok = pd.Series(any_on, index=pdf.index)
            sid = pdf["scene_id"]
            # correction control flow, same batch, no extra boundary
            corr_ok = pdf["__version"].notna()
            yield pd.DataFrame({
                "scene_id": sid,
                "collection_id": pdf["collection_id"],
                "provider_used":
                    pd.Series(providers[first], index=pdf.index)
                    .where(ok, None),
                "attempts": np.where(any_on, first + 1, n_prov)
                    .astype("int32"),
                "compressed_file":
                    ("/archive/downloads/" + sid + ".zip").where(ok, None),
                "checksum": pdf["__md5"].where(ok, None),
                "status": np.where(any_on, "SUCCESS", "OFFLINE"),
                "processor": pdf["__proc"].where(ok, None),
                "processor_version": pdf["__version"].where(ok & corr_ok,
                                                            None),
                "output_file":
                    ("/archive/corrected/" + sid).where(ok & corr_ok, None),
                "returncode": (~corr_ok).astype("int32"),
                "in_catalog": pdf["__in_cat"],
            })

    return (
        with_proc.select(
            "scene_id", "collection_id", *off_flags,
            F.md5("scene_id").alias("__md5"),
            proc.alias("__proc"), resolved.alias("__version"),
            F.coalesce(F.col("__in_cat"), F.lit(False)).alias("__in_cat"))
        .mapInPandas(run, FUSED_SCHEMA)
    )


def split_fused(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(downloaded, corrected) views of the fused stage output, each
    schema-identical to its chained counterpart."""
    downloaded = fused.select(
        "scene_id", "collection_id", "provider_used", "attempts",
        "compressed_file", "checksum", "status")
    corrected = (
        fused.filter((F.col("status") == "SUCCESS") & F.col("in_catalog"))
        .select("scene_id", "collection_id", "processor",
                "processor_version", "output_file", "returncode")
    )
    return downloaded, corrected


def publish_stage(corrected: DataFrame, scenes: DataFrame, bands: DataFrame,
                  tiles: DataFrame, store: CatalogStore) -> DataFrame:
    """S15/Y3 — publish: build per-band assets (J7), flag COG targets
    (F11), attach tile + bbox, and MERGE items idempotently on
    (name, collection_id) (publish.py:575-605). All metadata work is
    Catalyst; the item row is the reference's Item write."""
    ok = corrected.filter(F.col("returncode") == 0)
    meta = scenes.select(
        "scene_id", "sensing_date", "cloud_cover", "tile",
        "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")
    band_list = bands.select("collection_id", "name", "common_name")
    assets = (
        ok.join(meta, "scene_id")
        .join(band_list, "collection_id")
        .withColumn("href", F.concat(
            F.col("output_file"), F.lit("/"), F.col("name"), F.lit(".tif")))
        .withColumn("generate_cog", ~F.col("name").isin("AOT", "WVP"))
        .groupBy("scene_id", "collection_id", "sensing_date", "cloud_cover",
                 "tile", "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")
        .agg(F.to_json(
            F.map_from_entries(F.collect_list(F.struct(
                F.col("name"),
                F.struct(F.col("href"), F.lit("image/tiff; application=geotiff")
                         .alias("type")))))).alias("assets"))
    )
    items = (
        assets.join(F.broadcast(tiles.select(
            F.col("name").alias("tile"), F.col("id").alias("tile_id"))),
            "tile", "left")
        .select(
            F.xxhash64("scene_id").alias("id"),
            F.col("scene_id").alias("name"),
            "collection_id",
            F.col("sensing_date").cast("timestamp_ntz").alias("start_date"),
            F.col("sensing_date").cast("timestamp_ntz").alias("end_date"),
            "cloud_cover",
            "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax",
            F.concat(
                F.lit("POLYGON(("),
                F.concat_ws(",",
                            F.concat_ws(" ", "bbox_xmin", "bbox_ymin"),
                            F.concat_ws(" ", "bbox_xmax", "bbox_ymin"),
                            F.concat_ws(" ", "bbox_xmax", "bbox_ymax"),
                            F.concat_ws(" ", "bbox_xmin", "bbox_ymax"),
                            F.concat_ws(" ", "bbox_xmin", "bbox_ymin")),
                F.lit("))"),
            ).alias("footprint_wkt"),
            F.lit(4326).alias("srid"),
            "tile_id",
            F.lit(1).alias("provider_id"),
            "assets",
            F.lit(True).alias("is_available"),
            F.current_timestamp().cast("timestamp_ntz").alias("updated"),
        )
        .dropDuplicates(["name", "collection_id"])
    )
    store.merge_upsert("items", items)
    return items


def post_stage(published: DataFrame, pixels: DataFrame) -> DataFrame:
    """A6 — quality post-processing: per published scene, the count of
    pixel positions where ANY spectral band is nodata (the union mask
    written into the quality raster, utils.py:350-375)."""
    from bdc_collection_builder_spark.functions.pixel import nodata_union

    mask = nodata_union(pixels, ["B04", "B08"])
    per_scene = mask.groupBy("scene_id").agg(
        F.sum("any_nodata").alias("n_invalid"),
        F.count("*").alias("n_pixels"))
    return published.select(F.col("name").alias("scene_id"), "collection_id") \
        .join(per_scene, "scene_id", "left")


# -- real-IO download: genuine HTTP with failover over loopback -------


def http_download_stage(scenes: DataFrame,
                        providers: list[tuple[str, str]],
                        out_dir: str,
                        timeout: float = 10.0) -> DataFrame:
    """REAL network form of :func:`download_stage`: each scene issues
    actual HTTP GETs (urllib, executor-side) against an ordered
    ``(provider_name, base_url)`` failover list, validates the payload
    md5 against the server's ``X-Content-MD5`` header, and writes the
    bytes to ``out_dir`` — the exact per-scene control flow of
    tasks.py:129-240 (try provider, fall through on offline/HTTP
    error/checksum mismatch) with the wire protocol no longer
    simulated. Partitioning by scene bounds concurrent connections by
    partition count, same as the simulator's docstring argues.

    In tests/the sandbox the base URLs point at loopback fixture
    servers (:func:`start_fixture_provider`); in production they are
    the real provider endpoints plus auth — the stage does not change.
    """
    import hashlib
    import os
    import urllib.error
    import urllib.request

    names = [n for n, _ in providers]
    urls = [u for _, u in providers]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "scene_id", "collection_id", "provider_used", "attempts",
                "compressed_file", "checksum", "status")}
            for sid, cid in zip(pdf["scene_id"], pdf["collection_id"]):
                used = None
                checksum = None
                path = None
                attempts = 0
                for name, base in zip(names, urls):
                    attempts += 1
                    try:
                        with urllib.request.urlopen(
                                f"{base}/{sid}.zip", timeout=timeout) as rsp:
                            payload = rsp.read()
                            expected = rsp.headers.get("X-Content-MD5")
                        digest = hashlib.md5(payload).hexdigest()
                        if expected is not None and expected != digest:
                            raise OSError("checksum mismatch")
                        path = os.path.join(out_dir, f"{sid}.zip")
                        with open(path, "wb") as fh:
                            fh.write(payload)
                        used, checksum = name, digest
                        break
                    except (urllib.error.URLError, OSError):
                        continue
                out["scene_id"].append(sid)
                out["collection_id"].append(cid)
                out["provider_used"].append(used)
                out["attempts"].append(attempts)
                out["compressed_file"].append(path if used else None)
                out["checksum"].append(checksum)
                out["status"].append("SUCCESS" if used else "OFFLINE")
            yield pd.DataFrame(out)

    parallelism = scenes.sparkSession.sparkContext.defaultParallelism
    return (
        scenes.select("scene_id", "collection_id")
        .repartition(parallelism, "scene_id")
        .mapInPandas(run, DOWNLOAD_SCHEMA)
    )


def start_fixture_provider(flaky: bool = False,
                           offline_key: str = "flaky") -> tuple[str, object]:
    """Loopback HTTP provider serving deterministic scene archives —
    the sandbox-safe stand-in for a real LTA endpoint that still
    exercises genuine sockets, HTTP framing, and checksum headers.

    GET ``/<scene_id>.zip`` returns ``(scene_id + '|') * 16`` with an
    ``X-Content-MD5`` header. With ``flaky=True`` the server answers
    503 for scenes where the md5 offline rule fires
    (int(md5(f"{sid}:{offline_key}")[:2], 16) % 5 == 0) — the same
    DataOfflineError oracle the simulator and the DuckDB twins decode,
    so failover behavior stays value-checkable end-to-end.

    Returns ``(base_url, server)``; the server runs on a daemon thread
    until ``server.shutdown()``."""
    import hashlib
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server API
            sid = self.path.strip("/")
            sid = sid[:-4] if sid.endswith(".zip") else sid
            if self.server.flaky and int(hashlib.md5(
                    f"{sid}:{offline_key}".encode()
                    ).hexdigest()[:2], 16) % 5 == 0:
                self.send_error(503, "offline data")
                return
            payload = ((sid + "|") * 16).encode()
            self.send_response(200)
            self.send_header("X-Content-MD5",
                             hashlib.md5(payload).hexdigest())
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *args):  # silence per-request stderr spam
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.flaky = flaky
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return f"http://127.0.0.1:{server.server_address[1]}", server


def write_fixture_processor(path: str) -> None:
    """Materialize the loopback stand-in for an external processor
    install (Sen2Cor/LaSRC in the reference): reads the input archive,
    byte-reverses it into the output file. Invoked with
    ``argv = [python, path, version, input, output]``; a '2.11.0'
    invocation deterministically fails (exit 3) for scenes where the
    version-broken md5 rule fires — the same rule the s02 simulator
    decodes — so the stage's version-fallback loop is exercised by a
    REAL child process's returncode, not a flag."""
    script = '''
import hashlib, sys
version, inp, out = sys.argv[1], sys.argv[2], sys.argv[3]
data = open(inp, "rb").read()
sid = data.decode().split("|")[0]
if version == "2.11.0" and int(hashlib.md5(
        (sid + ":2.11.0").encode()).hexdigest()[:2], 16) % 7 == 0:
    sys.exit(3)
open(out, "wb").write(data[::-1])
'''
    with open(path, "w") as fh:
        fh.write(script)


def subprocess_correction_stage(downloaded: DataFrame,
                                versions: list[tuple[str, list[str]]],
                                out_dir: str,
                                timeout: float = 60.0) -> DataFrame:
    """REAL external-processor form of :func:`correction_stage`: each
    downloaded scene invokes an actual child process per candidate
    install (``versions`` = ordered (version, argv-template) list with
    ``{version}``/``{input}``/``{output}`` placeholders), walking the
    fallback list on nonzero returncodes exactly like processor.py's
    Sen2Cor install probing — but with genuine process spawn, exit
    codes, and output files. In this sandbox the argv is a local
    fixture processor (:func:`write_fixture_processor`); on a cluster
    it is the Docker/Singularity command line — the stage is unchanged.
    Emits the md5 of the produced output so downstream (and the DuckDB
    oracle) can value-check the child process's actual work."""
    import hashlib
    import os
    import subprocess

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "scene_id", "collection_id", "processor_version",
                "output_file", "output_checksum", "returncode")}
            for sid, cid, inp in zip(pdf["scene_id"],
                                     pdf["collection_id"],
                                     pdf["compressed_file"]):
                version_used, rc, opath, digest = None, 1, None, None
                if inp is not None:
                    for version, argv in versions:
                        opath = os.path.join(out_dir, f"{sid}.corrected")
                        cmd = [a.format(version=version, input=inp,
                                        output=opath) for a in argv]
                        proc = subprocess.run(
                            cmd, timeout=timeout, capture_output=True)
                        rc = proc.returncode
                        if rc == 0:
                            version_used = version
                            with open(opath, "rb") as fh:
                                digest = hashlib.md5(fh.read()).hexdigest()
                            break
                out["scene_id"].append(sid)
                out["collection_id"].append(cid)
                out["processor_version"].append(version_used)
                out["output_file"].append(opath if version_used else None)
                out["output_checksum"].append(digest)
                out["returncode"].append(0 if version_used else rc)
            yield pd.DataFrame(out)

    schema = ("scene_id string, collection_id int, "
              "processor_version string, output_file string, "
              "output_checksum string, returncode int")
    return downloaded.select(
        "scene_id", "collection_id", "compressed_file"
    ).mapInPandas(run, schema)


def docker_correction_stage(downloaded: DataFrame,
                            versions: list[str],
                            out_dir: str,
                            image: str = "sen2cor",
                            timeout: float = 60.0,
                            docker_bin: str = "docker") -> DataFrame:
    """Containerized processor stage — the reference's actual Docker
    boundary (processor.py:27-101: Sen2Cor ``docker run --rm -i
    --name <scene> -v <mounts> <image>:<version> <scene>.SAFE`` with
    per-version fallback, a wall-clock timeout, and ``docker stop
    <scene>`` cleanup when the container hangs), as a mapInPandas
    stage over scene partitions.

    Control flow per scene, mirroring the reference exactly:

    1. for each candidate ``version`` (ordered, like
       SEN2COR_VERSIONS_SUPPORTED): spawn ``docker run`` with the
       scene's input directory and a per-scene output directory
       mounted; ``--name <scene_id>`` so a hung container is
       addressable;
    2. ``wait(timeout)`` — on TimeoutExpired, ``docker stop
       <scene_id>`` (the reference's cleanup, processor.py:81-85),
       then fall through to the next version;
    3. nonzero returncode → next version; returncode 0 → the first
       entry of the scene's output dir is the product
       (processor.py:76-78), checksummed for downstream validation.

    ``docker_bin`` is injectable so the stage's full control flow —
    spawn, timeout, stop, fallback, output discovery — is testable
    against a PATH shim in environments without a Docker daemon (this
    sandbox); in production it is literally ``docker`` (or
    ``singularity run``, same argv shape). Scene partitions bound
    concurrent containers per executor exactly as partition count
    bounds provider connections in the download stage."""
    import hashlib
    import os
    import subprocess

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "scene_id", "collection_id", "processor_version",
                "output_file", "output_checksum", "returncode",
                "timed_out_versions")}
            for sid, cid, inp in zip(pdf["scene_id"],
                                     pdf["collection_id"],
                                     pdf["compressed_file"]):
                version_used, rc, product, digest = None, 1, None, None
                n_timeouts = 0
                if inp is not None:
                    scene_out = os.path.join(out_dir, sid)
                    os.makedirs(scene_out, exist_ok=True)
                    for version in versions:
                        args = [
                            docker_bin, "run", "--rm", "-i",
                            "--name", sid,
                            "-v", f"{os.path.dirname(inp)}:/input",
                            "-v", f"{scene_out}:/output",
                            f"{image}:{version}", f"{sid}.SAFE",
                        ]
                        proc = subprocess.Popen(
                            args, stdin=subprocess.PIPE,
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
                        try:
                            proc.wait(timeout=timeout)
                        except subprocess.TimeoutExpired:
                            # ensure the container is stopped, then
                            # treat as a failed version (reference
                            # raises and falls through, :81-85)
                            stopper = subprocess.Popen(
                                [docker_bin, "stop", sid],
                                stdout=subprocess.DEVNULL,
                                stderr=subprocess.DEVNULL)
                            stopper.wait(timeout=30)
                            proc.kill()
                            proc.wait()
                            n_timeouts += 1
                            continue
                        rc = proc.returncode
                        if rc == 0:
                            entries = sorted(os.listdir(scene_out))
                            if entries:
                                product = os.path.join(scene_out,
                                                       entries[0])
                                with open(product, "rb") as fh:
                                    digest = hashlib.md5(
                                        fh.read()).hexdigest()
                            version_used = version
                            break
                out["scene_id"].append(sid)
                out["collection_id"].append(cid)
                out["processor_version"].append(version_used)
                out["output_file"].append(product)
                out["output_checksum"].append(digest)
                out["returncode"].append(0 if version_used else rc)
                out["timed_out_versions"].append(n_timeouts)
            yield pd.DataFrame(out)

    schema = ("scene_id string, collection_id int, "
              "processor_version string, output_file string, "
              "output_checksum string, returncode int, "
              "timed_out_versions int")
    return downloaded.select(
        "scene_id", "collection_id", "compressed_file"
    ).mapInPandas(run, schema)


def write_fake_docker(path: str) -> None:
    """Materialize a PATH shim that speaks the exact ``docker run`` /
    ``docker stop`` argv the reference's processor boundary emits
    (processor.py:55-85), so :func:`docker_correction_stage` is
    exercised end-to-end — spawn, version-broken exit codes, hanging
    containers, stop cleanup, mounted output discovery — without a
    Docker daemon. The simulated processor byte-reverses
    ``/input/<scene>.dat`` into ``/output/<scene>.L2A``; version
    2.11.0 is deterministically broken for scenes where the md5 rule
    fires (the same rule the subprocess fixture uses) and HANGS
    (until killed) for scene ids containing 'HANG'."""
    import os

    script = '''#!/usr/bin/env python3
import hashlib, os, sys, time

args = sys.argv[1:]
if args and args[0] == "stop":
    with open(sys.argv[0] + ".log", "a") as fh:
        fh.write("stop %s\\n" % args[-1])
    sys.exit(0)
assert args and args[0] == "run", args
name, mounts, rest, i = None, {}, [], 1
while i < len(args):
    a = args[i]
    if a == "--name":
        name = args[i + 1]; i += 2
    elif a == "-v":
        host, cont = args[i + 1].split(":", 1)
        mounts[cont] = host; i += 2
    elif a in ("--rm", "-i"):
        i += 1
    else:
        rest.append(a); i += 1
image_tag, safe = rest[0], rest[1]
version = image_tag.rsplit(":", 1)[1]
sid = safe[: -len(".SAFE")]
if "HANG" in sid and version == "2.11.0":
    time.sleep(300)
if version == "2.11.0" and int(hashlib.md5(
        (sid + ":2.11.0").encode()).hexdigest()[:2], 16) % 7 == 0:
    sys.exit(3)
for ext in (".SAFE", ".zip", ".dat"):
    src = os.path.join(mounts["/input"], sid + ext)
    if os.path.exists(src):
        break
else:
    sys.exit(4)  # no input present in the mounted dir
data = open(src, "rb").read()
with open(os.path.join(mounts["/output"], sid + ".L2A"), "wb") as fh:
    fh.write(data[::-1])
sys.exit(0)
'''
    with open(path, "w") as fh:
        fh.write(script)
    os.chmod(path, 0o755)
