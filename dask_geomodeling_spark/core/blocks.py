"""Core Block machinery — Spark-first re-expression of the reference's
dask compute-graph core (reference: core/graphs.py:85 ``Block``,
core/graphs.py:52 ``construct``, core/graphs.py:42 ``compute``).

A Block is an immutable, composable node describing an on-the-fly data
transformation.  Where the reference compiles a Block stack into a dask
graph, we compile it into a **Spark DataFrame logical plan**: every Block
implements ``_build(ctx) -> DataFrame`` and Catalyst does scheduling,
predicate pushdown, column pruning and codegen.  The JSON graph
serialization contract (version-2 ``{name: [import.path, *args], ...}``
graphs) is preserved so existing view configurations port mechanically.
"""

from __future__ import annotations

import hashlib
import importlib
import json
from datetime import datetime, timedelta

__all__ = ["Block", "DummyBlock", "BuildContext", "construct",
           "construct_multiple", "compute"]


def _tokenize_obj(obj):
    """Deterministic, canonical representation of an argument (the
    reference uses dask.base.tokenize; we use a canonical-JSON md5)."""
    if isinstance(obj, Block):
        return {"__block__": obj.token}
    if isinstance(obj, (list, tuple)):
        return [_tokenize_obj(o) for o in obj]
    if isinstance(obj, dict):
        return {str(k): _tokenize_obj(v) for k, v in sorted(obj.items())}
    if isinstance(obj, datetime):
        return {"__datetime__": obj.isoformat()}
    if isinstance(obj, timedelta):
        return {"__timedelta__": obj.total_seconds()}
    if isinstance(obj, (str, int, float, bool)) or obj is None:
        return obj
    return repr(obj)


def tokenize(*args):
    payload = json.dumps([_tokenize_obj(a) for a in args], sort_keys=True,
                         separators=(",", ":"), default=str)
    return hashlib.md5(payload.encode()).hexdigest()


class _JSONEncoder(json.JSONEncoder):
    """Graph JSON encoder (reference: core/graphs.py to_json handling of
    datetimes/timedeltas)."""

    def default(self, o):
        if isinstance(o, datetime):
            return {"_type": "datetime", "value": o.isoformat()}
        if isinstance(o, timedelta):
            return {"_type": "timedelta", "value": o.total_seconds()}
        return super().default(o)


def _json_object_hook(dct):
    if dct.get("_type") == "datetime":
        return datetime.fromisoformat(dct["value"])
    if dct.get("_type") == "timedelta":
        return timedelta(seconds=dct["value"])
    return dct


class BuildContext:
    """Carries the SparkSession and the (possibly empty) request while a
    Block stack builds its DataFrame plan.  The request is the relational
    translation of the reference's pull-based request dict: filters become
    WHERE clauses that sources push into the parquet scan.

    The request key ``driver_threshold`` sets the row limit of every
    bounded driver gate in the stack (see :meth:`collect_bounded`);
    ``driver_threshold=0`` forces every gate onto its distributed
    path."""

    def __init__(self, spark, request=None):
        self.spark = spark
        self.request = dict(request or {})

    def child(self, **overrides):
        req = dict(self.request)
        req.update(overrides)
        return BuildContext(self.spark, req)

    def collect_bounded(self, df, default, nan_column=None):
        """The bounded driver gate: ``df``'s rows as a list when there
        are at most ``n`` of them, else ``None`` (take the distributed
        path).  ``n`` is the request's ``driver_threshold``, or
        ``default`` (the gate's module constant) when the request has
        none; ``n <= 0`` returns ``None`` without running a job.

        One ``df.limit(n + 1).collect()`` action; under adaptive query
        execution each query stage of the upstream plan (one per
        exchange) runs as its own Spark job.  LocalLimit stops each
        scan task early on data-sized inputs, and in the bounded case
        the probe IS the collect, so the upstream plan runs once.  A
        NaN in ``nan_column`` on any collected row also returns
        ``None``: Spark joins match NaN = NaN and order NaN above every
        number, Python does neither, so an exact driver mirror would
        diverge."""
        n = self.request.get("driver_threshold")
        n = int(default if n is None else n)
        if n <= 0:
            return None
        rows = df.limit(n + 1).collect()
        if len(rows) > n:
            return None
        if nan_column is not None and any(
                r[nan_column] != r[nan_column] for r in rows):
            return None
        return rows


class Block:
    """Base class for all blocks (reference: core/graphs.py:85).

    Subclasses validate their arguments in ``__init__`` and pass them to
    ``super().__init__`` — args are stored immutably in ``self.args`` and
    define the block's deterministic ``token``.
    """

    JSON_VERSION = 2

    def __init__(self, *args):
        self.args = args

    # ------------------------------------------------------------------ plan
    def _build(self, ctx: BuildContext):
        """Return the Spark DataFrame for this block under ``ctx.request``."""
        raise NotImplementedError

    def plan(self, spark=None, **request):
        """The lazy DataFrame logical plan (reference analogue:
        ``get_compute_graph``, core/graphs.py:161 — Catalyst replaces dask)."""
        from dask_geomodeling_spark import config
        spark = spark or config.get_spark()
        return self._build(BuildContext(spark, request))

    # kept for API parity
    def get_compute_graph(self, spark=None, **request):
        return self.plan(spark, **request)

    def get_data(self, spark=None, **request):
        """Materialize this block's result (reference: core/graphs.py:157)."""
        return self.plan(spark, **request)

    # ----------------------------------------------------------------- token
    @property
    def token(self):
        try:
            return self._cached_token
        except AttributeError:
            self._cached_token = tokenize(self.get_import_path(), *self.args)
            return self._cached_token

    @property
    def name(self):
        """Unique graph key: ``ClassName_<token>``."""
        return type(self).__name__ + "_" + self.token

    # ----------------------------------------------------------- graph (de)ser
    @classmethod
    def get_import_path(cls):
        module = cls.__module__
        # shorten '<pkg>.geometry.field_operations' -> '<pkg>.geometry'
        parts = module.split(".")
        for n in range(2, len(parts) + 1):
            candidate = ".".join(parts[:n])
            mod = importlib.import_module(candidate)
            if getattr(mod, cls.__name__, None) is cls:
                return candidate + "." + cls.__name__
        return module + "." + cls.__name__

    @staticmethod
    def from_import_path(path, allowed_prefixes=None):
        from dask_geomodeling_spark import compat
        mapped = compat.resolve_import_path(path)
        if mapped is not None:
            # a serialized REFERENCE view config ("dask_geomodeling.…")
            # resolves to the Spark-native class (or its signature
            # adapter) so existing graphs construct unmodified
            return mapped
        module, _, name = path.rpartition(".")
        if allowed_prefixes is not None and not any(
                module == p.rstrip(".") or module.startswith(p)
                for p in allowed_prefixes):
            # untrusted graphs (e.g. the WMS ``layers`` query param) may
            # not import arbitrary modules: importlib runs the module's
            # top-level code BEFORE the issubclass(Block) check below
            raise ValueError(
                "Import path '{}' is outside the allowed module "
                "prefixes {}".format(path, sorted(allowed_prefixes)))
        return getattr(importlib.import_module(module), name)

    def get_graph(self, serialize=False):
        """Return the ``{name: [cls_or_path, *args]}`` graph
        (reference: core/graphs.py:192)."""
        graph = {}

        def walk(block):
            key = block.name
            if key in graph:
                return key
            args = [walk(a) if isinstance(a, Block) else a for a in block.args]
            head = block.get_import_path() if serialize else type(block)
            graph[key] = [head] + args
            return key

        walk(self)
        return graph

    def serialize(self):
        return {"version": self.JSON_VERSION,
                "graph": self.get_graph(serialize=True),
                "name": self.name}

    @classmethod
    def deserialize(cls, val, validate=True, allowed_prefixes=None):
        return construct(val["graph"], val["name"], validate=validate,
                         allowed_prefixes=allowed_prefixes)

    def to_json(self, **kwargs):
        return json.dumps(self.serialize(), cls=_JSONEncoder, **kwargs)

    @classmethod
    def from_json(cls, val, **kwargs):
        return cls.deserialize(json.loads(val, object_hook=_json_object_hook),
                               **kwargs)

    def __repr__(self):
        return "{}({})".format(
            type(self).__name__,
            ", ".join(repr(a) for a in self.args))


class DummyBlock(Block):
    """Graph placeholder block (reference: core/graphs.py:293)."""

    def __init__(self, name):
        self._name = name
        super().__init__(name)

    @property
    def token(self):
        return self._name

    @property
    def name(self):
        return self._name


def construct(graph, name, validate=True, allowed_prefixes=None):
    """Construct a Block stack from a serialized graph and endpoint name
    (reference: core/graphs.py:52)."""
    return construct_multiple(graph, [name], validate,
                              allowed_prefixes=allowed_prefixes)[0]


def construct_multiple(graph, names, validate=True, allowed_prefixes=None):
    cache = {}

    untrusted = allowed_prefixes is not None

    def resolve(key):
        if key in cache:
            return cache[key]
        value = graph[key]
        cls = value[0]
        if isinstance(cls, str):
            cls = Block.from_import_path(cls, allowed_prefixes)
        if isinstance(cls, type):
            if not issubclass(cls, Block):
                raise TypeError(
                    "Cannot construct from object of type '{}'".format(cls))
        elif callable(cls):
            # compat adapters (signature-translating factories for
            # reference classes) are plain callables returning Blocks —
            # allowed only on the TRUSTED path.  Untrusted graphs
            # (allowed_prefixes given, e.g. the WMS ``layers`` query
            # param) must resolve to Block subclasses: an in-prefix
            # module can still expose arbitrary functions
            # (config.set_spark, …) that would otherwise execute with
            # attacker-controlled args (round-7 advice; the reference's
            # construct requires issubclass(Block), core/graphs.py:52)
            if untrusted:
                raise TypeError(
                    "Untrusted graphs may only name Block subclasses; "
                    "'{}' resolves to a plain callable".format(value[0]))
        else:
            raise TypeError(
                "Cannot construct from object of type '{}'".format(cls))
        args = [resolve(a) if isinstance(a, str) and a in graph else a
                for a in value[1:]]
        try:
            block = cls(*args)
        except Exception as e:
            if validate:
                e.args = ("{0}: {1}".format(key, str(e)),)
                raise
            if not isinstance(cls, type):
                raise
            block = cls.__new__(cls)
            Block.__init__(block, *args)
        cache[key] = block
        return block

    return [resolve(n) for n in names]


def compute(block_or_df, spark=None, **request):
    """Materialize a block (or DataFrame) to driver-side rows
    (reference: core/graphs.py:42). Only for small results/tests — operators
    themselves never collect."""
    if isinstance(block_or_df, Block):
        block_or_df = block_or_df.plan(spark, **request)
    return block_or_df.collect()
