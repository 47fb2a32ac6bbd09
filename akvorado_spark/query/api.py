"""Auxiliary console API surface (SURVEY §3.4).

The reference's remaining small endpoints, re-expressed over the
engine modules:

- ``validate_filter`` — ``POST /filter/validate`` (parse-only,
  console/filter.go:60-89): returns parse status + error position /
  message without touching data.
- ``table_interval`` — ``POST /graph/table-interval``
  (console/line.go:475-488): exposes the rollup router's decision
  (which table, which snapped interval) for a prospective query.
- ``SavedFilters`` — saved-filter CRUD (console/database/, backed by
  SQLite/Postgres through GORM in the reference); plain sqlite3
  here.  Driver-side state, never on executors.
"""

from __future__ import annotations

import sqlite3
from dataclasses import dataclass
from datetime import datetime

from akvorado_spark.filtering import FilterSchema, compile_filter
from akvorado_spark.filtering.parser import FilterError
from akvorado_spark.plans.rollup import FlowStore
from akvorado_spark.query.graph import route


# -- /filter/validate ------------------------------------------------------


@dataclass(frozen=True)
class ValidationResult:
    ok: bool
    message: str = ""
    parsed: str | None = None  # canonical round-trip (ok only)


def validate_filter(text: str, schema: FilterSchema) -> ValidationResult:
    """Parse-only validation; compiles both directions so a filter
    that only breaks when reversed is also rejected (the reference
    precompiles direct + reverse, console/query/filter.go:65-86)."""
    if not text.strip():
        return ValidationResult(ok=True, parsed="")
    try:
        compiled = compile_filter(text, schema)
        compiled.reverse()
        return ValidationResult(ok=True, parsed=compiled.duckdb_sql)
    except FilterError as e:
        return ValidationResult(ok=False, message=str(e))
    except Exception as e:  # defensive: any compile bug reads as invalid
        return ValidationResult(ok=False, message=f"internal: {e}")


# API-boundary input validation (reference console/line.go:24:
# ``points`` is validated required,min=5,max=2000 on every graph/
# table-interval input before any work happens; ``limit`` is min=1 and
# capped by the DimensionsLimit config, line.go:236 / sankey.go:167,
# default 50, console/config.go)
POINTS_MIN, POINTS_MAX = 5, 2000
DIMENSIONS_LIMIT = 50


def validate_points(points: int) -> None:
    if not (POINTS_MIN <= points <= POINTS_MAX):
        raise ValueError(
            f"points must be between {POINTS_MIN} and {POINTS_MAX}, got {points}"
        )


def validate_limit(limit: int, dimensions_limit: int = DIMENSIONS_LIMIT) -> None:
    if limit < 1:
        raise ValueError(f"limit must be at least 1, got {limit}")
    if limit > dimensions_limit:
        raise ValueError(
            f"Limit is set beyond maximum value ({dimensions_limit})"
        )


# -- /graph/table-interval -------------------------------------------------


def table_interval(
    store: FlowStore,
    start: datetime,
    end: datetime,
    points: int,
    filter_text: str = "",
    dimensions: tuple[str, ...] = (),
    schema: FilterSchema | None = None,
) -> dict:
    """Which table would serve this query, at which interval —
    the rollup router's decision (the one ``graph_line`` takes)
    surfaced as an endpoint."""
    validate_points(points)
    _, res, interval_s = route(store, start, end, points, filter_text, dimensions, schema)
    return {
        "table": res.table_name,
        "interval_s": interval_s,
        "resolution_s": res.interval_s,
        "main_table": res.interval_s == 0,
    }


# -- saved filters ---------------------------------------------------------


class SavedFilters:
    """CRUD for shared/saved filter expressions (reference
    console/database/saved_filters)."""

    def __init__(self, path: str = ":memory:"):
        self.db = sqlite3.connect(path)
        self.db.execute(
            """CREATE TABLE IF NOT EXISTS saved_filters (
                 id INTEGER PRIMARY KEY AUTOINCREMENT,
                 user TEXT NOT NULL,
                 shared INTEGER NOT NULL DEFAULT 0,
                 description TEXT NOT NULL,
                 content TEXT NOT NULL)"""
        )
        self.db.commit()

    def create(self, user: str, description: str, content: str,
               shared: bool = False, schema: FilterSchema | None = None) -> int:
        if schema is not None:
            v = validate_filter(content, schema)
            if not v.ok:
                raise FilterError(f"refusing to save invalid filter: {v.message}")
        cur = self.db.execute(
            "INSERT INTO saved_filters (user, shared, description, content) VALUES (?,?,?,?)",
            (user, int(shared), description, content),
        )
        self.db.commit()
        return cur.lastrowid

    def list(self, user: str) -> list[dict]:
        """A user sees their own filters plus shared ones (reference
        ListSavedFilters semantics)."""
        rows = self.db.execute(
            "SELECT id, user, shared, description, content FROM saved_filters"
            " WHERE user = ? OR shared = 1 ORDER BY id",
            (user,),
        ).fetchall()
        return [
            dict(id=r[0], user=r[1], shared=bool(r[2]), description=r[3], content=r[4])
            for r in rows
        ]

    def delete(self, filter_id: int, user: str) -> bool:
        """Only the owner deletes (reference DeleteSavedFilter)."""
        cur = self.db.execute(
            "DELETE FROM saved_filters WHERE id = ? AND user = ?", (filter_id, user)
        )
        self.db.commit()
        return cur.rowcount > 0
