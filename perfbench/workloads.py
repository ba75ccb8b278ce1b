"""The benchmark's workloads.

Each workload generates its inputs from the seed (inside the run's work
directory), runs one pass as one closed-loop batch job through the
package's public functions, and checks every output against an
independent recomputation made before the first set-up, outside the
timed interval.

A pass returns {operator name: result}; `check` turns each result into a
list of mismatch messages (empty when correct).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# Knuth mixes used by the package's synthetic image table
# (osmium_tool_spark.sources.images.synth_images)
MIX, MIX2 = 2654435761, 2246822519
FMTS = ("png", "jpeg", "webp")

def raycast_np(ring: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Brute-force exact int64 even-odd point-in-polygon over one closed
    ring; a point equal to a vertex is inside."""
    a, b = ring[:-1], ring[1:]
    keep = ~np.all(a == b, axis=1)
    x1, y1, x2, y2 = a[keep, 0], a[keep, 1], b[keep, 0], b[keep, 1]
    out = np.zeros(len(xs), dtype=bool)
    for s in range(0, len(xs), 8192):
        px, py = xs[s:s + 8192, None], ys[s:s + 8192, None]
        on_vertex = ((px == x1) & (py == y1)) | ((px == x2) & (py == y2))
        straddle = (y2 > py) != (y1 > py)
        comp = (px - x2) * (y1 - y2) < (x1 - x2) * (py - y2)
        toggle = straddle & (((y1 - y2) > 0) == comp)
        out[s:s + 8192] = on_vertex.any(axis=1) | (toggle.sum(axis=1) & 1).astype(bool)
    return out


def cell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Packed Morton cell id (twin of osmium_tool_spark.functions.cells)."""
    n = 1 << res
    ix = np.minimum((lon + 1_800_000_000) * n // 3_600_000_000, n - 1)
    iy = np.minimum((lat + 900_000_000) * n // 1_800_000_000, n - 1)
    code = np.zeros(len(lon), dtype=np.int64)
    for b in range(res):
        code |= ((ix >> b) & 1) << (2 * b)
        code |= ((iy >> b) & 1) << (2 * b + 1)
    return code | (np.int64(res) << 56)


def pattern(val, w, h) -> np.ndarray:
    """The gray test image of encode_pattern_png_images:
    pixel(x, y) = (val*31 + x*7 + y*13) % 256."""
    xs, ys = np.arange(int(w), dtype=np.int64) * 7, np.arange(int(h), dtype=np.int64) * 13
    return ((int(val) * 31 + ys[:, None] + xs[None, :]) % 256).astype(np.uint8)


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def mismatch(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, expected {want}"]


class Workload:
    name = ""
    input_rows = 0
    # unmeasured passes after the first set-up, until pass times stop falling
    warmup: int
    # the operator each pass calls, as "<module>.<function>"
    ops: tuple[str, ...] = ()

    def generate(self, seed: int, work: str) -> None:
        """Write the inputs, once per run before the first set-up."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute the expected outputs; not timed."""
        raise NotImplementedError

    def one_pass(self, spark, tr, pass_no: int) -> dict:
        raise NotImplementedError

    def check(self, op: str, result) -> list[str]:
        raise NotImplementedError

    def after_pass(self, pass_no: int) -> None:
        pass

    def source_path(self) -> str:
        raise NotImplementedError

    def probes(self, spark, tr) -> dict[str, float]:
        """In-process timings of the layer functions this workload uses."""
        return {}

    def traced_extras(self, spark, tr, out) -> dict[str, float]:
        """Layer metrics of one traced pass beyond the operator counters."""
        return {}


# ---------------------------------------------------------------------------
# flagship_fused
# ---------------------------------------------------------------------------


def flagship_extracts():
    """bench.py's flagship extracts: 8 bboxes plus a diamond and a hexagon
    (both under the 64-segment limit, so both run as generated JVM code)."""
    from osmium_tool_spark.functions.geometry import Extract

    extracts = [Extract.bbox(i, -180 + i * 45, -60, -180 + i * 45 + 60, 60) for i in range(8)]
    r = 800_000_000
    diamond = np.array([(r, 0), (0, r), (-r, 0), (0, -r), (r, 0)], dtype=np.int64)
    hexagon = np.array(
        [(1_200_000_000, -200_000_000), (1_500_000_000, 300_000_000),
         (1_200_000_000, 700_000_000), (700_000_000, 700_000_000),
         (500_000_000, 200_000_000), (700_000_000, -200_000_000),
         (1_200_000_000, -200_000_000)],
        dtype=np.int64,
    )
    extracts.append(Extract.polygon(8, [diamond]))
    extracts.append(Extract.polygon(9, [hexagon]))
    return extracts, [diamond, hexagon]


class FlagshipFused(Workload):
    """image_extract_tile over a pre-written parquet image table."""

    name = "flagship_fused"
    ops = ("pipeline.image_extract_tile",)
    N = 500_000
    warmup = 6
    TAGS = ["n/fmt=png,jpeg", "n/caption=caption*"]
    CELL_RES = 8

    def generate(self, seed, work):
        n = self.N
        k = np.arange(n, dtype=np.int64) + (seed % 997) * 1_000_000
        phash = (k * MIX) % 16777216 + ((k * MIX2) % 16777216) * 16777216
        ks = pa.compute.cast(pa.array(k), pa.string())
        fmt_idx = k % 3
        # one caption in five does not match `caption*`
        alt = k % 5 == 0
        caption = pa.compute.if_else(
            pa.array(alt),
            pa.compute.binary_join_element_wise("photo ", ks, ""),
            pa.compute.binary_join_element_wise("caption for image ", ks, ""),
        )
        table = pa.table({
            "image_id": pa.compute.binary_join_element_wise("img", ks, ""),
            "bytes": pa.FixedSizeBinaryArray.from_buffers(
                pa.binary(8), n, [None, pa.py_buffer(phash.astype(">u8").tobytes())]
            ).cast(pa.binary()),
            "w": pa.array((64 + (k * 37) % 448).astype(np.int32)),
            "h": pa.array((64 + (k * 53) % 448).astype(np.int32)),
            "fmt": pa.array(np.array(FMTS, dtype=object)[fmt_idx]),
            "caption": caption,
            "phash": pa.array(phash),
        })
        self.path = os.path.join(work, "images")
        shutil.rmtree(self.path, ignore_errors=True)
        write_parts(table, self.path, 16)
        self.input_rows = n
        self.k, self.phash = k, phash

    def expect(self):
        """Expected result, recomputed in numpy from the generated ids."""
        k, phash = self.k, self.phash
        keep = (k % 3 != 2) | (k % 5 != 0)
        lon = phash[keep] % 3_600_000_000 - 1_800_000_000
        lat = (phash[keep] >> 16) % 1_800_000_000 - 900_000_000
        cell = cell_np(lon, lat, self.CELL_RES)
        extracts, rings = flagship_extracts()
        matched, tiles = 0, 0
        for e in extracts:
            if e.kind == "bbox":
                m = (lon >= e.minx) & (lon <= e.maxx) & (lat >= e.miny) & (lat <= e.maxy)
            else:
                ring = rings[e.extract_id - 8]
                m = raycast_np(ring, lon, lat)
            matched += int(m.sum())
            tiles += len(np.unique(cell[m]))
        self.expected = (matched, tiles)

    def source_path(self):
        return self.path

    def one_pass(self, spark, tr, pass_no):
        from pyspark.sql import functions as F

        from osmium_tool_spark.operators.pipeline import image_extract_tile

        with tr.span("operators.pipeline.image_extract_tile", op="pipeline.image_extract_tile"):
            images = spark.read.parquet(self.path)
            extracts, _ = flagship_extracts()
            tiles = image_extract_tile(images, self.TAGS, extracts, cell_res=self.CELL_RES)
            df = tiles.agg(F.sum("n_images").alias("m"), F.count("*").alias("t"))
            row = df.collect()[0]
        return {"pipeline.image_extract_tile": (df, (int(row["m"]), int(row["t"])))}

    def check(self, op, result):
        return mismatch("(matched, tile_rows)", result[1], self.expected)

    def probes(self, spark, tr):
        """The extract set each pass builds (Extract.bbox and
        Extract.polygon), and the numpy even-odd kernel of
        spatial_join. No pass runs that kernel: both flagship polygons are
        under 64 segments and run as generated JVM code, so it is a
        detached micro-probe of the Python PIP layer."""
        from osmium_tool_spark.operators import spatial_join as sj

        env: dict = {}
        exec(sj._KERNELS, env)
        t0 = time.perf_counter()
        for _ in range(20):
            _, rings = flagship_extracts()
        build = (time.perf_counter() - t0) / 20
        t = pq.read_table(self.path, columns=["phash"]).column(0).to_numpy()[:50_000]
        xs, ys = t % 3_600_000_000 - 1_800_000_000, (t >> 16) % 1_800_000_000 - 900_000_000
        segs = [env["segments_of"]([[{"x": x, "y": y} for x, y in r]]) for r in rings]
        t0 = time.perf_counter()
        for s in segs:
            env["raycast"](s, xs, ys)
        ray = (time.perf_counter() - t0) / (len(xs) * len(segs)) * 1e6
        return {"functions.geometry.extract_build_s": build,
                "functions.pip.raycast_us_per_point": ray}


# ---------------------------------------------------------------------------
# image_ingest
# ---------------------------------------------------------------------------


class ImageIngest(Workload):
    """A two-stage CheckpointedPipeline over real PNG and baseline-JPEG
    payloads: resize_images_real written to parquet with its metrics.json,
    then a geo-reference + per-cell rollup stage."""

    name = "image_ingest"
    ops = ("multimodal.resize_images_real", "plans.checkpointed.run")
    N = 160
    warmup = 8
    MAX_SIDE = 32
    CELL_RES = 4
    SAMPLE = 6

    def generate(self, seed, work):
        """Encode the payloads in-process with the package's own codecs, on
        the pattern of encode_pattern_png_images and
        encode_pattern_jpeg_images (JPEG at their default quality 92): the
        same bytes, without a Spark job in every run."""
        from osmium_tool_spark.functions import jpeg, png

        rng = np.random.default_rng(seed)
        n = self.N
        k = np.arange(n, dtype=np.int64) + (seed % 997) * 100_000
        w = rng.integers(24, 80, n).astype(np.int32)
        h = rng.integers(24, 80, n).astype(np.int32)
        val = rng.integers(0, 256, n).astype(np.int32)
        ids = np.array([f"img{x}" for x in k], dtype=object)
        is_png = k % 2 == 0
        payloads = [
            png.encode_gray(pattern(v, a, b)) if p else jpeg.encode_gray(pattern(v, a, b), quality=92)
            for v, a, b, p in zip(val, w, h, is_png)
        ]
        self.path = os.path.join(work, "payloads")
        shutil.rmtree(self.path, ignore_errors=True)
        write_parts(pa.table({
            "image_id": pa.array(ids, pa.string()), "w": w, "h": h, "val": val,
            "bytes": pa.array(payloads, pa.binary()),
            "fmt": pa.array(np.where(is_png, "png", "jpeg"), pa.string()),
        }), self.path, 4)
        self.input_rows = n
        self.ckpt = os.path.join(work, "ckpt")
        self.k, self.w, self.h, self.val, self.ids = k, w, h, val, ids
        self.payload = dict(zip(ids, payloads))

    def expect(self):
        """The resize_dims rule, the per-cell rollup, and the pixels of a
        decoded sample (PNG: the exact pattern; JPEG: the decoded input)."""
        k, w, h, val, ids = self.k, self.w, self.h, self.val, self.ids
        is_png = k % 2 == 0
        side = np.maximum(w, h)
        big = side > self.MAX_SIDE
        w1 = np.where(big, np.maximum(1, w * self.MAX_SIDE // side), w)
        h1 = np.where(big, np.maximum(1, h * self.MAX_SIDE // side), h)
        self.dims = {i: (int(a), int(b)) for i, a, b in zip(ids, w1, h1)}
        lon = (k * 2654435761) % 3_600_000_000 - 1_800_000_000
        lat = (k * 2246822519) % 1_800_000_000 - 900_000_000
        cell = cell_np(lon, lat, self.CELL_RES)
        area = w1.astype(np.int64) * h1
        self.rollup = {}
        for c, a in zip(cell, area):
            cnt, s = self.rollup.get(int(c), (0, 0))
            self.rollup[int(c)] = (cnt + 1, s + int(a))

        from osmium_tool_spark.functions import jpeg

        payload = self.payload
        self.payloads = [payload[i] for i in ids[: 32]]
        self.pixels = {}
        for j in list(np.flatnonzero(is_png)[: self.SAMPLE // 2]) + list(
            np.flatnonzero(~is_png)[: self.SAMPLE // 2]
        ):
            iid = ids[j]
            if is_png[j]:
                img = pattern(val[j], w[j], h[j])
            else:
                img = jpeg.decode(payload[iid])[:, :, 0]
            ry = (np.arange(h1[j]) * h[j]) // h1[j]
            rx = (np.arange(w1[j]) * w[j]) // w1[j]
            self.pixels[iid] = img[np.ix_(ry, rx)]

    def source_path(self):
        return self.path

    def one_pass(self, spark, tr, pass_no):
        from pyspark.sql import functions as F

        from osmium_tool_spark.functions.cells import cell_id
        from osmium_tool_spark.operators.multimodal import resize_images_real
        from osmium_tool_spark.plans.checkpointed import CheckpointedPipeline
        from osmium_tool_spark.sources.testdata import lat_expr, lon_expr

        root = os.path.join(self.ckpt, f"pass-{pass_no}")
        self.root = root
        marks = []
        pipe = CheckpointedPipeline(root)

        @pipe.stage("resize")
        def resize(spark, _prev):
            marks.append(time.time())
            return resize_images_real(spark.read.parquet(self.path), self.MAX_SIDE)

        @pipe.stage("rollup")
        def rollup(spark, prev):
            marks.append(time.time())
            k = F.substring("image_id", 4, 20).cast("long")
            return (
                prev.select(cell_id(lon_expr(k), lat_expr(k), self.CELL_RES).alias("cell"),
                            (F.col("w").cast("long") * F.col("h")).alias("area"))
                .groupBy("cell").agg(F.count("*").alias("n"), F.sum("area").alias("area"))
            )

        with tr.span("plans.checkpointed.run", op="plans.checkpointed.run") as sid:
            pipe.run(spark)
        if tr.enabled:
            run = tr.spans[sid]
            bounds = marks + [run["end"]]
            tr.add("plans.checkpointed.stage.resize", bounds[0], bounds[1], sid)
            tr.add("plans.checkpointed.stage.rollup", bounds[1], bounds[2], sid)
            tr.add("operators.multimodal.resize_images_real", bounds[0], bounds[1],
                   len(tr.spans) - 2, op="multimodal.resize_images_real")
        return {"multimodal.resize_images_real": os.path.join(root, "resize", "data"),
                "plans.checkpointed.run": os.path.join(root, "rollup", "data")}

    def check(self, op, result):
        from osmium_tool_spark.functions import png

        t = pq.read_table(result).to_pydict()
        if op == "plans.checkpointed.run":
            got = {int(c): (int(n), int(a)) for c, n, a in zip(t["cell"], t["n"], t["area"])}
            return mismatch("per-cell rollup", got, self.rollup)
        errs = mismatch("resized rows", len(t["image_id"]), len(self.dims))
        bad = [i for i, a, b in zip(t["image_id"], t["w"], t["h"]) if self.dims.get(i) != (a, b)]
        if bad:
            errs.append(f"{len(bad)} images break the resize_dims rule, e.g. {bad[0]}")
        payload = dict(zip(t["image_id"], t["bytes"]))
        for iid, want in self.pixels.items():
            got = png.decode(payload[iid])[:, :, 0] if iid in payload else None
            if got is None or not np.array_equal(got, want):
                errs.append(f"pixels of {iid} differ from the expected resize")
        return errs

    def after_pass(self, pass_no):
        shutil.rmtree(os.path.join(self.ckpt, f"pass-{pass_no}"), ignore_errors=True)

    def traced_extras(self, spark, tr, out):
        from osmium_tool_spark.plans.checkpointed import partition_histogram

        stage = [s for s in tr.spans if s["name"] == "plans.checkpointed.stage.resize"][-1]
        t0 = time.perf_counter()
        partition_histogram(spark.read.parquet(out["multimodal.resize_images_real"]))
        hist = time.perf_counter() - t0
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.root) for f in fs if f.endswith(".parquet")
        )
        return {"plans.checkpointed.stage_s": stage["end"] - stage["start"],
                "plans.checkpointed.histogram_s": hist,
                "plans.checkpointed.write_bytes": float(written)}

    def probes(self, spark, tr):
        from osmium_tool_spark.functions import png
        from osmium_tool_spark.sources.images import any_decode_fns

        decode, _ = any_decode_fns()
        t0 = time.perf_counter()
        imgs = [decode(bytes(p)) for p in self.payloads]
        dec = (time.perf_counter() - t0) / len(imgs) * 1e6
        t0 = time.perf_counter()
        for img in imgs:
            png.encode_gray(img[:, :, 0])
        enc = (time.perf_counter() - t0) / len(imgs) * 1e6
        return {"functions.codec.decode_us_per_image": dec,
                "functions.codec.encode_us_per_image": enc}


WORKLOADS = {w.name: w for w in (FlagshipFused, ImageIngest)}
