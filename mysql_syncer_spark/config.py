"""Per-table replication config — the engine's public extension point.

The reference requires a hand-written C struct + five callbacks per table,
registered in a compile-time array (/root/reference/src/slave/
rs_register_tables.c:6-36, exemplar rs_mysql_test_test.c:102-118). Here a
table is a dataclass in a dict: key columns, delete policy, optional
vectorized transform and the columns it derives. Adding a table = adding
a dict entry, no recompile.

The LWW order is not configurable: every sink ranks events by the
hidden ``(_lww_ts_us, _lww_file, _lww_pos)`` columns. Skew is not
configurable either: the pages sink's one skew mechanism, the winner
pre-filter, is decided by a keys-only probe, and only the probed batch
can take it. A multi-batch replay or stream probes only its first batch
that is not skipped, so its later batches always merge without the
pre-filter (sink/pages_table.py, ``_write_batch_delta``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa


@dataclass(frozen=True)
class TableConfig:
    """Replication binding for one ``db.tb``.

    on_delete:
      - ``"delete"``  — DELETE removes the key from the target.
      - ``"ignore"``  — reference parity: the only registered handler's
        delete callback is a no-op (/root/reference/src/slave/
        rs_mysql_test_test.c:84-87), so replayed state never loses keys.
    """

    name: str  # "web.pages"
    key_columns: tuple[str, ...] = ("url",)
    on_delete: str = "delete"
    # Optional vectorized payload transform (e.g. html→text extraction):
    # pyarrow.Table -> pyarrow.Table with the same columns, applied to the
    # merge winners inside the sink's Arrow write pass (one executor pass
    # per task; see sink/pages_table.py ``_bucket_writer``). It runs on
    # the executors, so it must pickle, and be pure/deterministic.
    transform: Callable[[pa.Table], pa.Table] | None = field(
        default=None, compare=False
    )
    # Columns `transform` DERIVES from other payload columns (derived wire
    # field -> source wire fields). Consulted by the MINIMAL-row-image
    # path (operators/partial.py): when an event writes a source but not
    # the derived column, the derived value is reset to NULL instead of
    # coalesced from table state, so the transform recomputes it — the
    # table's stored value (e.g. text extracted from a PREVIOUS html) is
    # not the wire value the MINIMAL diff was taken against.
    derived_columns: dict = field(default_factory=dict, compare=False)

    def __post_init__(self) -> None:
        if self.on_delete not in ("delete", "ignore"):
            raise ValueError(f"on_delete must be delete|ignore, got {self.on_delete}")


# Default registry — the analogue of rs_register_tables.c:6-9.
DEFAULT_TABLES: dict[str, TableConfig] = {
    "web.pages": TableConfig(name="web.pages"),
}
