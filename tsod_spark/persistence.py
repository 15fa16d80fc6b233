"""Detector persistence — params as JSON, not pickles.

Replaces the reference's joblib whole-object pickling
(/root/reference/tsod/base.py:13-22,95-104) with the Spark ML
Estimator/Model idiom: a fitted detector is its class name + constructor
params + learned scalars, serialized as JSON. Per-series params
DataFrames are saved as parquet next to the JSON. Works with any
filesystem path a driver can open.

Layout: ``{path}`` holds the JSON; each distinct per-series params
frame is one parquet sidecar ``{path}.params/{k}``, listed in the JSON
with the leaves it serves. A fused CombinedDetector fit writes one
sidecar for all its plain-aggregate leaves, and ``load`` reads it once.
The earlier layout, one sidecar per leaf at ``{path}.params/{i}`` with
``param_cols``, still loads.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

from .detectors import (
    CombinedDetector,
    ConstantGradientDetector,
    ConstantValueDetector,
    DiffDetector,
    GradientDetector,
    HampelDetector,
    RangeDetector,
    RollingStandardDeviationDetector,
    SeasonalResidualDetector,
    SparkDetector,
)

_REGISTRY = {
    cls.__name__: cls
    for cls in (
        RangeDetector,
        DiffDetector,
        GradientDetector,
        RollingStandardDeviationDetector,
        ConstantValueDetector,
        ConstantGradientDetector,
        HampelDetector,
        SeasonalResidualDetector,
        CombinedDetector,
    )
}

# attribute name -> constructor kwarg per detector class
_PARAM_ATTRS = {
    "RangeDetector": {"_min": "min_value", "_max": "max_value", "_quantiles": "quantiles"},
    "DiffDetector": {"_max_diff": "max_diff", "_direction": "direction"},
    "GradientDetector": {"_max_gradient": "max_gradient", "_direction": "direction"},
    "RollingStandardDeviationDetector": {
        "_window_size": "window_size",
        "_max_std": "max_std",
        "_center": "center",
    },
    "ConstantValueDetector": {"_window_size": "window_size", "_threshold": "threshold"},
    "ConstantGradientDetector": {"_window_size": "window_size"},
    "HampelDetector": {"_window_size": "window_size", "_threshold": "threshold"},
    "SeasonalResidualDetector": {
        "_trend_window": "trend_window",
        "_quantile": "quantile",
        "_phase_unit": "phase_unit",
    },
}


def _encode(x):
    if isinstance(x, float) and math.isinf(x):
        return {"$inf": 1 if x > 0 else -1}
    return x


def _decode(x):
    if isinstance(x, dict) and "$inf" in x:
        return math.inf * x["$inf"]
    return x


def to_dict(detector: SparkDetector) -> dict:
    name = type(detector).__name__
    if name == "CombinedDetector":
        return {"type": name, "detectors": [to_dict(d) for d in detector]}
    if name not in _PARAM_ATTRS:
        raise ValueError(f"Don't know how to serialize {name}")
    params = {
        kwarg: _encode(getattr(detector, attr))
        for attr, kwarg in _PARAM_ATTRS[name].items()
    }
    out = {"type": name, "params": params}
    if detector._params is not None:
        # globally-fitted state that does NOT mirror a constructor
        # kwarg (e.g. the seasonal profile + threshold) — JSON-safe
        # scalars and lists by construction
        out["fitted"] = detector._params
    return out


def from_dict(d: dict) -> SparkDetector:
    cls = _REGISTRY[d["type"]]
    if d["type"] == "CombinedDetector":
        return CombinedDetector([from_dict(c) for c in d["detectors"]])
    det = cls(**{k: _decode(v) for k, v in d["params"].items()})
    if d.get("fitted") is not None:
        det._params = d["fitted"]
    return det


def _leaves(detector: SparkDetector) -> list[SparkDetector]:
    if isinstance(detector, CombinedDetector):
        return list(detector.leaves())
    return [detector]


def save(detector: SparkDetector, path) -> None:
    """Save a detector for later use (cf. base.py:95-104).

    Per-series fitted state (``_params_df``) is written as one parquet
    sidecar per distinct params frame at ``{path}.params/{k}``. A fused
    CombinedDetector fit gives all its plain-aggregate leaves one frame,
    so it writes one sidecar. The session-scoped ``__{uid}_`` column
    prefixes become ``l{i}_`` (``i`` the leaf's depth-first index), so
    a reload in a fresh session can re-prefix for its own uids. Scalar
    fitted state rides in the JSON (fit copies it into the constructor
    attrs).
    """
    doc = {"spec": to_dict(detector), "sidecars": []}
    leaves = _leaves(detector)
    frames: dict[int, list[int]] = {}
    for i, leaf in enumerate(leaves):
        if leaf._params_df is not None:
            frames.setdefault(id(leaf._params_df), []).append(i)
    for k, idx in enumerate(frames.values()):
        pdf = leaves[idx[0]]._params_df
        cols = pdf.columns
        owned, renames = {}, {}
        for i in idx:
            prefix = f"__{leaves[i]._uid}_"
            names = [c[len(prefix):] for c in cols if c.startswith(prefix)]
            owned[str(i)] = sorted(names)
            renames.update({prefix + n: f"l{i}_{n}" for n in names})
        sidecar = f"{path}.params/{k}"
        pdf.withColumnsRenamed(renames).coalesce(1).write.mode("overwrite").parquet(sidecar)
        doc["sidecars"].append({"path": sidecar, "leaves": owned})
    Path(path).write_text(json.dumps(doc, indent=2))


def load(path, spark=None) -> SparkDetector:
    """Load a saved detector (cf. base.py:13-22).

    Each sidecar is read once, lazily, and re-prefixed for the fresh
    instances' uids; leaves saved from one fused fit share the frame
    again. Files in the earlier one-sidecar-per-leaf layout (entries
    ``{"leaf": i, "param_cols": [...]}`` with unprefixed columns) load
    too. Pass ``spark`` explicitly when no session is active.
    """
    doc = json.loads(Path(path).read_text())
    if "spec" not in doc:  # pre-sidecar format
        return from_dict(doc)
    detector = from_dict(doc["spec"])
    if doc["sidecars"]:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "loading per-series fitted params needs a SparkSession"
                )
        leaves = _leaves(detector)
        for sc in doc["sidecars"]:
            if "leaf" in sc:  # one sidecar per leaf
                owned = {sc["leaf"]: {n: n for n in sc["param_cols"]}}
            else:
                owned = {
                    int(i): {f"l{i}_{n}": n for n in names}
                    for i, names in sc["leaves"].items()
                }
            pdf = spark.read.parquet(sc["path"]).withColumnsRenamed(
                {
                    saved: leaves[i].tmp(name)
                    for i, cols in owned.items()
                    for saved, name in cols.items()
                }
            )
            for i in owned:
                leaves[i]._params_df = pdf
    return detector


# ---------------------------------------------------------------------------
# one-way joblib import (migration from reference-era saved detectors)

# reference pickle attribute -> our constructor kwarg; includes attrs
# the JSON path never writes because the reference always pickles them
_JOBLIB_ATTRS = {
    name: dict(attrs)
    for name, attrs in _PARAM_ATTRS.items()
}
_JOBLIB_ATTRS["ConstantGradientDetector"]["_window_size"] = "window_size"


def _restricted_joblib_load(content: bytes):
    """Unpickle a reference ``Detector.save`` artifact WITHOUT importing
    or executing reference code: every ``tsod.*`` class resolves to an
    inert attribute-bag stub, numpy scalar reconstruction is allowed
    (fitted thresholds pickle as numpy float64), everything else is
    rejected. joblib's default (uncompressed) dump is a plain pickle
    stream (reference base.py:104 ``joblib.dump(self, path)``);
    zlib/gzip-compressed variants are unwrapped first."""
    import io
    import pickle

    if content[:2] == b"\x1f\x8b":  # joblib compress= writes gzip frames
        import gzip

        content = gzip.decompress(content)
    elif content[:1] == b"x":  # bare zlib stream
        import zlib

        content = zlib.decompress(content)

    class _Stub:
        def __init__(self, *a, **k):
            pass

    stubs: dict[str, type] = {}

    class _Unpickler(pickle.Unpickler):
        def find_class(self, module, name):
            if module.split(".")[0] == "tsod":
                if name not in stubs:
                    stubs[name] = type(name, (_Stub,), {})
                return stubs[name]
            if (module, name) in {
                ("numpy.core.multiarray", "scalar"),
                ("numpy._core.multiarray", "scalar"),
                ("numpy", "dtype"),
                ("numpy", "float64"),
                ("numpy", "int64"),
                ("numpy", "bool_"),
            }:
                import importlib

                return getattr(importlib.import_module(module), name)
            raise pickle.UnpicklingError(
                f"joblib import only accepts tsod detector classes and numpy "
                f"scalars; refusing {module}.{name}"
            )

    return _Unpickler(io.BytesIO(content)).load()


def _plain(x):
    """numpy scalar -> python scalar, recursively through lists."""
    if isinstance(x, list):
        return [_plain(v) for v in x]
    if hasattr(x, "item"):
        return x.item()
    return x


def _stub_to_detector(stub) -> SparkDetector:
    name = type(stub).__name__
    if name == "CombinedDetector":
        return CombinedDetector([_stub_to_detector(c) for c in stub._detectors])
    if name not in _JOBLIB_ATTRS:
        raise ValueError(f"unsupported reference detector in joblib: {name}")
    kwargs = {
        kwarg: _plain(getattr(stub, attr))
        for attr, kwarg in _JOBLIB_ATTRS[name].items()
        if hasattr(stub, attr)
    }
    return _REGISTRY[name](**kwargs)


def import_joblib(path) -> SparkDetector:
    """One-way importer for reference ``.joblib`` saves (base.py:95-104):
    users migrating keep their fitted thresholds without ever executing
    the pickled code. Re-save with :func:`save` for the JSON format."""
    return _stub_to_detector(_restricted_joblib_load(Path(path).read_bytes()))
