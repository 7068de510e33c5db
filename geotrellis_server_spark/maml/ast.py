"""MAML map-algebra expression AST (reference: MAML Expression trees,
symbol table in ogc-example/docs/maml-operations.md:9-69; JSON-serializable
"algebra as data" per README.md:38-45).

Node = dict-like dataclass with ``symbol``; children in ``args``. The JSON
codec mirrors MAML's shape: {"symbol": <op>, "args": [...]} with leaf
nodes {"symbol": "int"|"dbl"|"bool", "value": v} and
{"symbol": "rasterV", "name": n}. ``bind_params`` substitutes var leaves
(Expression.bindParams analog, core/.../LayerExtent.scala:58-61);
``transform`` deep-maps (ExpressionUtils.bindExpression,
ogc/.../utils/ExpressionUtils.scala:24-29); ``vars_with_buffer`` computes
per-expression focal buffer cells (Vars.varsWithBuffer,
core/.../LayerTms.scala:66).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

LOCAL_OPS = {
    # arithmetic (variadic fold)
    "+", "-", "*", "/", "**", "min", "max",
    # comparison → 0/1 with NoData propagation
    "<", "<=", "!=", "=", ">=", ">",
    # boolean
    "or", "xor", "and",
    # trig
    "atan2", "sin", "cos", "tan", "sinh", "cosh", "tanh", "asin", "acos", "atan",
    # branch / classify
    "ifelse", "classify",
    # rounding / logs / roots
    "round", "floor", "ceil", "loge", "log10", "sqrt", "abs",
    # definedness / negation
    "def", "undef", "nneg", "lneg",
    # compositing / normalization
    "rgb", "clamp", "normalize", "rescale", "mask",
    # band select
    "sel",
}

FOCAL_OPS = {
    "fmax", "fmin", "fmean", "fmedian", "fmode", "fsum", "fstddev",
    "fslope", "faspect", "fhillshade",
}

# Horn's method reads a fixed 3×3 window, whatever the radius
HORN_OPS = {"fslope", "faspect", "fhillshade"}

LEAF_OPS = {"int", "dbl", "bool", "rasterV", "geomLit"}


@dataclass(frozen=True)
class Expr:
    symbol: str
    args: tuple = ()
    # op-specific attributes (classify breaks, clamp bounds, focal params…)
    params: tuple = ()

    def __post_init__(self):
        # canonical param order so structural equality (and the JSON
        # round-trip) is insensitive to constructor argument order
        object.__setattr__(self, "params", tuple(sorted(self.params)))

    # ---- constructors -----------------------------------------------------
    @staticmethod
    def lit(v) -> "Expr":
        if isinstance(v, bool):
            return Expr("bool", params=(("value", v),))
        if isinstance(v, int):
            return Expr("int", params=(("value", v),))
        return Expr("dbl", params=(("value", float(v)),))

    @staticmethod
    def var(name: str) -> "Expr":
        return Expr("rasterV", params=(("name", name),))

    def p(self, key: str, default=None):
        return dict(self.params).get(key, default)

    # operators --------------------------------------------------------------
    def __add__(self, o):
        return Expr("+", (self, _e(o)))

    def __sub__(self, o):
        return Expr("-", (self, _e(o)))

    def __mul__(self, o):
        return Expr("*", (self, _e(o)))

    def __truediv__(self, o):
        return Expr("/", (self, _e(o)))

    def __pow__(self, o):
        return Expr("**", (self, _e(o)))

    def __lt__(self, o):
        return Expr("<", (self, _e(o)))

    def __le__(self, o):
        return Expr("<=", (self, _e(o)))

    def __gt__(self, o):
        return Expr(">", (self, _e(o)))

    def __ge__(self, o):
        return Expr(">=", (self, _e(o)))

    def eq(self, o):
        return Expr("=", (self, _e(o)))

    def ne(self, o):
        return Expr("!=", (self, _e(o)))

    # ---- analysis ----------------------------------------------------------
    def var_names(self) -> set[str]:
        if self.symbol == "rasterV":
            return {self.p("name")}
        out: set[str] = set()
        for a in self.args:
            out |= a.var_names()
        return out

    def halo(self) -> int:
        """Cells this node reads beyond each tile edge: a focal op's
        radius (exactly 1 for the Horn ops), 0 for any other node."""
        if self.symbol not in FOCAL_OPS:
            return 0
        r = int(self.p("radius", 1))
        if self.symbol in HORN_OPS and r != 1:
            raise ValueError(f"{self.symbol} reads a fixed 3x3 window: radius must be 1, got {r}")
        return r

    def vars_with_buffer(self, _depth_buffer: int = 0) -> dict[str, int]:
        """var name → required halo buffer in cells (focal ops add their
        :meth:`halo`; nested focal ops accumulate)."""
        out: dict[str, int] = {}
        buf = _depth_buffer + self.halo()
        if self.symbol == "rasterV":
            name = self.p("name")
            out[name] = max(out.get(name, 0), _depth_buffer)
            return out
        for a in self.args:
            for k, v in a.vars_with_buffer(buf).items():
                out[k] = max(out.get(k, 0), v)
        return out

    def transform(self, fn: Callable[["Expr"], "Expr"]) -> "Expr":
        new_args = tuple(a.transform(fn) for a in self.args)
        return fn(Expr(self.symbol, new_args, self.params))

    def bind_params(self, bindings: dict[str, "Expr"]) -> "Expr":
        def f(e: Expr) -> Expr:
            if e.symbol == "rasterV" and e.p("name") in bindings:
                return bindings[e.p("name")]
            return e

        return self.transform(f)

    # ---- JSON codec ----------------------------------------------------------
    def to_dict(self) -> dict:
        d: dict[str, Any] = {"symbol": self.symbol}
        d.update(dict(self.params))
        if self.args:
            d["args"] = [a.to_dict() for a in self.args]
        return d

    def to_json(self) -> str:
        return json.dumps(self.to_dict())

    @staticmethod
    def from_dict(d: dict) -> "Expr":
        d = dict(d)
        symbol = d.pop("symbol")
        args = tuple(Expr.from_dict(a) for a in d.pop("args", []))
        if "ring" in d:  # JSON lists → hashable tuples (geomLit)
            d["ring"] = tuple(tuple(float(v) for v in p) for p in d["ring"])
        params = tuple(sorted(d.items()))
        return Expr(symbol, args, params)

    @staticmethod
    def from_json(s: str) -> "Expr":
        return Expr.from_dict(json.loads(s))


def _e(v) -> Expr:
    return v if isinstance(v, Expr) else Expr.lit(v)


# convenience builders used by tests / public API
def var(name: str) -> Expr:
    return Expr.var(name)


def lit(v) -> Expr:
    return Expr.lit(v)


def ifelse(cond, a, b) -> Expr:
    return Expr("ifelse", (_e(cond), _e(a), _e(b)))


def classify(x, breaks: list[float], values: list[float]) -> Expr:
    return Expr("classify", (_e(x),), (("breaks", tuple(breaks)), ("values", tuple(values))))


def clamp(x, lo: float, hi: float) -> Expr:
    return Expr("clamp", (_e(x),), (("lo", float(lo)), ("hi", float(hi))))


def normalize(x, old_min, old_max, new_min, new_max) -> Expr:
    return Expr(
        "normalize",
        (_e(x),),
        (("new_max", float(new_max)), ("new_min", float(new_min)),
         ("old_max", float(old_max)), ("old_min", float(old_min))),
    )


def rescale(x, new_min, new_max) -> Expr:
    return Expr("rescale", (_e(x),), (("new_max", float(new_max)), ("new_min", float(new_min))))


def rgb(r, g, b) -> Expr:
    return Expr("rgb", (_e(r), _e(g), _e(b)))


def mask(x, mask_operand) -> Expr:
    """``mask(x, m)``: keep x where m is nonzero, NoData elsewhere. The
    second operand is either a raster var/expression or a ``geom(...)``
    literal — the geometry form is rasterized onto x's tile grid at eval
    time (reference masks by geometry, maml-operations.md:17)."""
    return Expr("mask", (_e(x), _e(mask_operand)))


def geom(ring) -> Expr:
    """Polygon ring literal (EPSG:4326 lon/lat, not closed) for
    mask-by-geometry. Stored as a hashable tuple-of-tuples param so the
    JSON codec round-trips structurally."""
    return Expr("geomLit", params=(("ring", tuple(tuple(float(v) for v in p) for p in ring)),))


def focal(symbol: str, x, radius: int = 1, **kw) -> Expr:
    params = [("radius", int(radius))] + sorted(kw.items())
    e = Expr(symbol, (_e(x),), tuple(params))
    e.halo()  # rejects a Horn op's radius other than 1 where it is written
    return e
