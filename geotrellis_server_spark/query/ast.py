"""Catalog query algebra — the reference's ``QueryF`` AST re-expressed as
Python dataclasses with a JSON codec that mirrors the reference's circe
encoding node-for-node (core/.../store/query/QueryF.scala:33-51, golden
JSON in core/src/test/.../query/QueryFSpec.scala:43-130).

Nodes: And, Or, Intersects, Contains, Covers, At, Between, WithName,
WithNames, Nothing, All. Analysis algebras ``is_temporal`` /
``is_universal`` (QueryF.scala:121-141) and the rewrite ``override_name``
(QueryF.scala:108-113) are provided as methods; ``transform`` generalizes
the reference's ``ExpressionUtils.bindExpression`` deep-map.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass(frozen=True)
class Query:
    def and_(self, other: "Query") -> "Query":
        return And(self, other)

    def or_(self, other: "Query") -> "Query":
        return Or(self, other)

    # -- analysis (QueryF.scala isTemporal :121-128, isUniversal :130-141)
    def is_temporal(self) -> bool:
        if isinstance(self, (At, Between)):
            return True
        if isinstance(self, (And, Or)):
            return self.left.is_temporal() or self.right.is_temporal()
        return False

    def is_universal(self) -> bool:
        """Reference algebraIsUniversal (QueryF.scala:130-141): spatial,
        temporal, and Nothing nodes are non-universal; And = &&, Or = ||
        (an Or with one universal branch matches everything)."""
        if isinstance(self, (Intersects, Contains, Covers, At, Between, Nothing)):
            return False
        if isinstance(self, And):
            return self.left.is_universal() and self.right.is_universal()
        if isinstance(self, Or):
            return self.left.is_universal() or self.right.is_universal()
        return True

    def transform(self, fn: Callable[["Query"], "Query"]) -> "Query":
        """Bottom-up deep map (bindExpression analog)."""
        if isinstance(self, And):
            return fn(And(self.left.transform(fn), self.right.transform(fn)))
        if isinstance(self, Or):
            return fn(Or(self.left.transform(fn), self.right.transform(fn)))
        return fn(self)

    def override_name(self, name: str) -> "Query":
        def f(q: Query) -> Query:
            if isinstance(q, WithName):
                return WithName(name)
            if isinstance(q, WithNames):
                return WithName(name)
            return q

        return self.transform(f)

    # -- JSON codec -------------------------------------------------------
    def to_dict(self) -> dict:
        if isinstance(self, And):
            return {"And": {"left": self.left.to_dict(), "right": self.right.to_dict()}}
        if isinstance(self, Or):
            return {"Or": {"left": self.left.to_dict(), "right": self.right.to_dict()}}
        if isinstance(self, (Intersects, Contains, Covers)):
            kind = type(self).__name__
            xmin, ymin, xmax, ymax = self.extent
            ring = [[xmin, ymin], [xmin, ymax], [xmax, ymax], [xmax, ymin], [xmin, ymin]]
            return {
                kind: {
                    "projectedGeometry": {
                        "geometry": {"type": "Polygon", "coordinates": [ring]},
                        "crs": self.crs,
                    }
                }
            }
        if isinstance(self, At):
            return {"At": {"time": _iso(self.time), "fieldName": self.field_name}}
        if isinstance(self, Between):
            return {
                "Between": {
                    "from": _iso(self.t_from),
                    "to": _iso(self.t_to),
                    "fieldName": self.field_name,
                }
            }
        if isinstance(self, WithName):
            return {"WithName": {"name": self.name}}
        if isinstance(self, WithNames):
            return {"WithNames": {"names": sorted(self.names)}}
        if isinstance(self, Nothing):
            return {"Nothing": {}}
        if isinstance(self, All):
            return {"All": {}}
        raise TypeError(type(self))

    def to_json(self) -> str:
        return json.dumps(self.to_dict())

    @staticmethod
    def from_dict(d: dict) -> "Query":
        (kind, body), = d.items()
        if kind in ("And", "Or"):
            cls = And if kind == "And" else Or
            return cls(Query.from_dict(body["left"]), Query.from_dict(body["right"]))
        if kind in ("Intersects", "Contains", "Covers"):
            cls = {"Intersects": Intersects, "Contains": Contains, "Covers": Covers}[kind]
            geom = body["projectedGeometry"]
            ring = geom["geometry"]["coordinates"][0]
            xs = [p[0] for p in ring]
            ys = [p[1] for p in ring]
            return cls((min(xs), min(ys), max(xs), max(ys)), geom.get("crs", "EPSG:4326"))
        if kind == "At":
            return At(_parse_iso(body["time"]), body.get("fieldName", "time"))
        if kind == "Between":
            return Between(
                _parse_iso(body["from"]), _parse_iso(body["to"]), body.get("fieldName", "time")
            )
        if kind == "WithName":
            return WithName(body["name"])
        if kind == "WithNames":
            return WithNames(frozenset(body["names"]))
        if kind == "Nothing":
            return Nothing()
        if kind == "All":
            return All()
        # unknown nodes degrade to Nothing, matching QueryF.unfolder
        return Nothing()

    @staticmethod
    def from_json(s: str) -> "Query":
        return Query.from_dict(json.loads(s))


def _iso(t: dt.datetime) -> str:
    return t.astimezone(dt.timezone.utc).isoformat().replace("+00:00", "Z")


def _parse_iso(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00"))


@dataclass(frozen=True)
class And(Query):
    left: Query
    right: Query


@dataclass(frozen=True)
class Or(Query):
    left: Query
    right: Query


@dataclass(frozen=True)
class Intersects(Query):
    extent: tuple[float, float, float, float]
    crs: str = "EPSG:4326"


@dataclass(frozen=True)
class Contains(Query):
    extent: tuple[float, float, float, float]
    crs: str = "EPSG:4326"


@dataclass(frozen=True)
class Covers(Query):
    extent: tuple[float, float, float, float]
    crs: str = "EPSG:4326"


@dataclass(frozen=True)
class At(Query):
    time: dt.datetime
    field_name: str = "time"


@dataclass(frozen=True)
class Between(Query):
    t_from: dt.datetime
    t_to: dt.datetime
    field_name: str = "time"


@dataclass(frozen=True)
class WithName(Query):
    name: str


@dataclass(frozen=True)
class WithNames(Query):
    names: frozenset[str] = field(default_factory=frozenset)


@dataclass(frozen=True)
class Nothing(Query):
    pass


@dataclass(frozen=True)
class All(Query):
    pass


# smart constructors (QueryF.scala:55-67)
def intersects(extent: tuple) -> Query:
    return Intersects(tuple(extent))


def contains(extent: tuple) -> Query:
    return Contains(tuple(extent))


def covers(extent: tuple) -> Query:
    return Covers(tuple(extent))


def at(time: dt.datetime, field_name: str = "time") -> Query:
    return At(time, field_name)


def between(t1: dt.datetime, t2: dt.datetime, field_name: str = "time") -> Query:
    return Between(t1, t2, field_name)


def with_name(name: str) -> Query:
    return WithName(name)


def nothing() -> Query:
    return Nothing()


def all_() -> Query:
    return All()
