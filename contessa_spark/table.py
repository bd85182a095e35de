"""Table identifiers.

Reference: contessa/models.py:236-300 — ``Table(schema_name,
table_name)`` with ``fullname = "{schema}.{table}"``; ``ResultTable``
prefixes the table name with ``quality_check_`` / ``consistency_check_``.

Spark realization: the checked table is either a catalog identifier
(``spark.table``) or a parquet/Iceberg path; the result table is a
caller-supplied path (sandbox) or Iceberg identifier (production), so
no ``ResultTable`` type derives its name. Dynamic per-table
SQLAlchemy classes are unnecessary — a fixed schema + table-name
parameter replaces them (SURVEY §2.3).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional


@dataclass
class Table:
    schema_name: Optional[str]
    table_name: str

    @property
    def fullname(self) -> str:
        if self.schema_name:
            return f"{self.schema_name}.{self.table_name}"
        return self.table_name

    # Spark temp views cannot contain dots; this is the name the runner
    # registers and the name `{{table_fullname}}` renders to.
    @property
    def view_name(self) -> str:
        return self.fullname.replace(".", "__")
