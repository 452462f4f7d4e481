"""Pipeline stages: download → correction → publish → post.

Each stage is a DataFrame transformation over scene rows. Metadata work
is pure Catalyst; side-effecting work (network download, processor
child processes, raster IO) runs inside ``mapInPandas`` with the
control flow of the reference. Each side-effecting step has one
implementation per form:

- one simulator, :func:`download_correction_stage`: provider failover
  and processor version fallback decided by deterministic md5 rules,
  both in one pass (:func:`split_fused` gives the per-step views);
- one real download, :func:`http_download_stage`: genuine HTTP with
  failover and checksum validation (loopback fixture providers in
  tests, real endpoints in production);
- one processor loop, :func:`subprocess_correction_stage`: a real
  child process per candidate version, with timeout, stop and
  exit-code fallback. :func:`docker_versions` supplies the
  ``docker run`` / ``docker stop`` argv for the same loop.

The Spark-side plumbing (schemas, batch shapes, partitioning by scene)
is the real design: on a cluster each partition is a batch of scenes
and the stage UDFs run the same loops against real
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

PROCESSOR_VERSIONS = {"sen2cor": ["2.11.0", "2.10.0", "2.5.5"],
                      "lasrc": ["2.0.1"]}

FUSED_SCHEMA = (
    DOWNLOAD_SCHEMA + ", processor string, processor_version string, "
    "output_file string, returncode int, in_catalog boolean"
)


def download_correction_stage(scenes: DataFrame, provider_names: list[str],
                              collections: DataFrame) -> DataFrame:
    """S2/S3 + Z2 simulator — download with provider-priority failover
    (tasks.py:205-236), then the processor's version fallback
    (processor.py:27-101), in ONE ``mapInPandas`` pass per scene batch.

    The input is repartitioned by scene_id first: the stage parallelism
    IS partition parallelism, and scene lists typically arrive as a
    handful of catalog-search files (at 100 TB the partition count
    bounds concurrent provider connections). The processor comes from
    the broadcast collections dimension (tasks.py:259-260), so the
    scene side never shuffles; ``in_catalog`` marks scenes whose
    collection is cataloged.

    Offline data (DataOfflineError on LTA archives) and broken installs
    are md5 rules, evaluated JVM-side in codegen: provider p is offline
    for scene s iff ``int(md5(f"{s}:{p}")[:2], 16) % 5 == 0``, and
    version v of processor r works iff
    ``int(md5(f"{s}:{r}:{v}")[:2], 16) % 7 != 0``
    (``conv(substring(md5(..), 1, 2), 16, 10)`` is the same value). The
    DuckDB oracles in plans/sources.py decode the same digests. The
    Python side runs only the failover control flow over those flags,
    vectorized in numpy. Use :func:`split_fused` for the per-step
    DataFrames."""
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
    """(downloaded, corrected) views of the simulator's output: every
    scene's download outcome, and the correction outcome of each
    downloaded scene whose collection is cataloged."""
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
    """REAL network form of the download step: each scene issues
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
    decodes — and HANGS (until killed) for scene ids containing 'HANG'
    (both rules as in :func:`write_fake_docker`), so the stage's
    version-fallback loop is exercised by a REAL child process's
    returncode and timeout, not a flag."""
    script = '''
import hashlib, sys, time
version, inp, out = sys.argv[1], sys.argv[2], sys.argv[3]
data = open(inp, "rb").read()
sid = data.decode().split("|")[0]
if "HANG" in sid and version == "2.11.0":
    time.sleep(300)
if version == "2.11.0" and int(hashlib.md5(
        (sid + ":2.11.0").encode()).hexdigest()[:2], 16) % 7 == 0:
    sys.exit(3)
open(out, "wb").write(data[::-1])
'''
    with open(path, "w") as fh:
        fh.write(script)


def subprocess_correction_stage(downloaded: DataFrame,
                                versions: list[tuple],
                                out_dir: str,
                                timeout: float = 60.0) -> DataFrame:
    """Z2 with REAL child processes — the processor version-fallback
    loop of processor.py:27-101, as a mapInPandas stage over scene
    partitions (partitions bound concurrent children per executor).

    ``versions`` is the ordered candidate list (like
    SEN2COR_VERSIONS_SUPPORTED) of ``(version, argv)`` or
    ``(version, argv, stop_argv)``. Argv templates may use
    ``{version}``, ``{scene}``, ``{input}`` (the downloaded archive),
    ``{input_dir}`` (its directory), ``{output_dir}`` (the scene's own
    directory under ``out_dir``) and ``{output}``
    (``<output_dir>/<scene>.corrected``).

    Control flow per downloaded scene, mirroring the reference:

    1. spawn the candidate's argv and ``wait(timeout)``;
    2. on TimeoutExpired run ``stop_argv`` if given (``docker stop
       <scene>``, processor.py:81-85), kill the child and try the next
       version, counting it in ``timed_out_versions``;
    3. nonzero returncode → next version; returncode 0 → the first
       sorted entry of the scene's output dir is the product
       (processor.py:76-78), md5'd so downstream (and the DuckDB
       oracle) can value-check the child's actual work.

    Here the argv is a local fixture processor
    (:func:`write_fixture_processor`) or the Docker shim; on a cluster
    it is the Docker/Singularity command line — the stage is
    unchanged."""
    import hashlib
    import os
    import subprocess

    quiet = dict(stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                 stderr=subprocess.DEVNULL)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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
                    slots = dict(
                        scene=sid, input=inp,
                        input_dir=os.path.dirname(inp),
                        output_dir=scene_out,
                        output=os.path.join(scene_out, f"{sid}.corrected"))
                    for version, argv, *stop in versions:
                        slots["version"] = version
                        proc = subprocess.Popen(
                            [a.format(**slots) for a in argv], **quiet)
                        try:
                            rc = proc.wait(timeout=timeout)
                        except subprocess.TimeoutExpired:
                            if stop:
                                subprocess.run(
                                    [a.format(**slots) for a in stop[0]],
                                    timeout=30, **quiet)
                            proc.kill()
                            proc.wait()
                            n_timeouts += 1
                            continue
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


def docker_versions(versions: list[str], image: str = "sen2cor",
                    docker_bin: str = "docker") -> list[tuple]:
    """The reference's Docker boundary (processor.py:55-85) as
    :func:`subprocess_correction_stage` candidates: per version,
    ``docker run --rm -i --name <scene> -v <input_dir>:/input -v
    <output_dir>:/output <image>:<version> <scene>.SAFE``, with
    ``docker stop <scene>`` to clean up a hung container. The
    ``--name`` makes the hung container addressable. ``docker_bin`` is
    injectable so the full control flow runs against a PATH shim
    (:func:`write_fake_docker`) without a Docker daemon; in production
    it is ``docker`` (or ``singularity run``, same argv shape)."""
    run = [docker_bin, "run", "--rm", "-i", "--name", "{scene}",
           "-v", "{input_dir}:/input", "-v", "{output_dir}:/output",
           image + ":{version}", "{scene}.SAFE"]
    stop = [docker_bin, "stop", "{scene}"]
    return [(v, run, stop) for v in versions]


def docker_correction_stage(downloaded: DataFrame,
                            versions: list[str],
                            out_dir: str,
                            image: str = "sen2cor",
                            timeout: float = 60.0,
                            docker_bin: str = "docker") -> DataFrame:
    """Containerized processor stage: :func:`subprocess_correction_stage`
    over the :func:`docker_versions` argv, so a hung container is
    stopped and the scene falls through to the next version."""
    return subprocess_correction_stage(
        downloaded, docker_versions(versions, image, docker_bin), out_dir,
        timeout)


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
