"""Catalog store — persist the session catalog across processes.

Reference parity: ``flink-table-api-java .../catalog/FileCatalogStore.java``
(and GenericInMemoryCatalogStore): the reference persists catalog
DESCRIPTORS — the options needed to re-open a catalog object — not data.
Same here: the store is one JSON file holding every DDL-declared
connector table (options + schema + watermark) and every catalog model
(INPUT/OUTPUT schemas + options); ``load_catalog_store`` replays them
into a fresh session, re-registering views through the same
``fs_reader``/datagen paths the DDL uses, so a new process sees the
exact catalog a previous one declared. Data stays where it lives (the
table paths); the store is metadata only, ~KBs at any scale.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from apache_flink_spark.session import session_state

__all__ = ["save_catalog_store", "load_catalog_store", "CatalogStoreError"]

FORMAT_VERSION = 1


class CatalogStoreError(ValueError):
    pass


def save_catalog_store(tenv, path: str) -> int:
    """Write every DDL table + model descriptor to ``path`` (JSON).
    Returns the number of objects saved."""
    st = session_state(tenv.spark)
    tables = {}
    for name, spec in st.tables.items():
        if spec[0] == "datagen":
            _, opts, cols = spec
            tables[name] = {
                "connector": "datagen",
                "options": dict(opts),
                "columns": [list(c) for c in cols],
            }
        else:
            fmt, tpath, schema_ddl, opts = spec
            tables[name] = {
                "connector": "filesystem",
                "format": fmt,
                "path": tpath,
                "schema": schema_ddl,
                "options": dict(opts),
            }
        if name in st.watermarks:
            tables[name]["watermark"] = list(st.watermarks[name])

    models = []
    for mname in tenv.model_catalog.list():
        m = tenv.model_catalog.get(mname)
        models.append(
            {
                "name": m.name,
                "input_schema": [list(c) for c in m.input_schema],
                "output_schema": [list(c) for c in m.output_schema],
                "options": dict(m.options),
                "comment": m.comment,
                "temporary": m.temporary,
            }
        )

    # r7: secondary catalog DESCRIPTORS (the reference FileCatalogStore's
    # actual payload — CatalogDescriptor configurations) + the
    # catalog.db.table -> view mapping that re-binds their tables.
    catalogs = {
        cname: {
            "type": c.get("type", "generic_in_memory"),
            "comment": c["comment"],
            "properties": dict(c["properties"]),
            "dbs": {
                d: {"comment": e["comment"],
                    "properties": dict(e["properties"])}
                for d, e in c["dbs"].items()
            },
            "current_db": c["current_db"],
        }
        for cname, c in st.catalogs.items()
    }
    cat_tables = [
        [cat, db, tbl, view] for (cat, db, tbl), view in st.cat_tables.items()
    ]

    # r7: DISTRIBUTED BY tables (native bucketed catalog tables) — their
    # DDL descriptor + resolved data location, so a fresh in-memory
    # session catalog can re-open them bucketed.
    from urllib.parse import urlparse

    from apache_flink_spark.ddl import _DISTRIBUTED

    wh = urlparse(
        tenv.spark.conf.get("spark.sql.warehouse.dir", "")
    ).path
    distributed = {}
    for name, d in _DISTRIBUTED.items():
        # a native DROP TABLE cannot update _DISTRIBUTED — skip stale
        # entries instead of persisting a location that no longer exists
        # (which would make the whole store unloadable; r7 review)
        if not tenv.spark.catalog.tableExists(name):
            continue
        loc = os.path.abspath(
            d["opts"].get("path") or os.path.join(wh, name.lower())
        )
        distributed[name] = {
            "kind": d["kind"],
            "cols": list(d["cols"]),
            "buckets": d["buckets"],
            "parts": list(d.get("parts") or []),
            "opts": dict(d["opts"]),
            "cols_types": [list(c) for c in d["cols_types"]],
            "location": loc,
        }

    doc = {
        "format_version": FORMAT_VERSION,
        "tables": tables,
        "models": models,
        "catalogs": catalogs,
        "catalog_tables": cat_tables,
        "distributed_tables": distributed,
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = path + ".__writing__"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return len(tables) + len(models)


def load_catalog_store(tenv, path: str) -> int:
    """Replay a catalog store into ``tenv``'s session: re-register every
    table view and model. Returns the number of objects restored. Loud
    on version mismatch or a table whose path no longer exists."""
    from apache_flink_spark.ddl import _datagen_df, fs_reader
    from apache_flink_spark.models import CatalogModel

    try:
        with open(path) as f:
            doc = json.load(f)
    except FileNotFoundError:
        raise CatalogStoreError(f"catalog store {path!r} does not exist")
    except json.JSONDecodeError as ex:
        raise CatalogStoreError(f"catalog store {path!r} is not JSON: {ex}")
    ver = doc.get("format_version")
    if ver != FORMAT_VERSION:
        raise CatalogStoreError(
            f"catalog store format_version {ver!r} != supported "
            f"{FORMAT_VERSION} — refusing a silent misread"
        )

    st = session_state(tenv.spark)
    n = 0
    for name, t in doc.get("tables", {}).items():
        if t["connector"] == "datagen":
            cols = [tuple(c) for c in t["columns"]]
            st.tables[name] = ("datagen", dict(t["options"]), cols)
            _datagen_df(tenv.spark, cols, t["options"]).createOrReplaceTempView(
                name
            )
        else:
            if not os.path.exists(t["path"]):
                raise CatalogStoreError(
                    f"table {name!r}: declared path {t['path']!r} no "
                    "longer exists"
                )
            st.tables[name] = (
                t["format"], t["path"], t["schema"], dict(t["options"])
            )
            reader, tpath = fs_reader(tenv.spark, name)
            reader.load(tpath).createOrReplaceTempView(name)
        if "watermark" in t:
            st.watermarks[name] = tuple(t["watermark"])
        n += 1
    for m in doc.get("models", []):
        tenv.model_catalog.create(
            CatalogModel(
                name=m["name"],
                input_schema=[tuple(c) for c in m["input_schema"]],
                output_schema=[tuple(c) for c in m["output_schema"]],
                options=dict(m["options"]),
                comment=m.get("comment"),
                temporary=bool(m.get("temporary")),
            ),
            if_not_exists=True,
        )
        n += 1
    for cname, c in doc.get("catalogs", {}).items():
        st.catalogs[cname] = {
            "type": c.get("type", "generic_in_memory"),
            "comment": c.get("comment"),
            "properties": dict(c.get("properties", {})),
            "dbs": {
                d: {"comment": e.get("comment"),
                    "properties": dict(e.get("properties", {}))}
                for d, e in c.get("dbs", {}).items()
            },
            "current_db": c.get("current_db", "default"),
        }
        n += 1
    for cat, db, tbl, view in doc.get("catalog_tables", []):
        # the view itself was re-registered above via its mangled DDL
        # table entry; this restores the catalog-path binding
        st.cat_tables[(cat, db, tbl)] = view
    from apache_flink_spark.ddl import _DISTRIBUTED

    for name, d in doc.get("distributed_tables", {}).items():
        if not tenv.spark.catalog.tableExists(name):
            if not os.path.isdir(d["location"]):
                raise CatalogStoreError(
                    f"distributed table {name!r}: data location "
                    f"{d['location']!r} no longer exists"
                )
            fmt = d["opts"].get("format", "parquet").lower()
            col_ddl = ", ".join(f"{c} {t}" for c, t in d["cols_types"])
            part_ddl = (
                f" PARTITIONED BY ({', '.join(d['parts'])})"
                if d["parts"] else ""
            )
            keys = ", ".join(d["cols"])
            tenv.spark.sql(
                f"CREATE TABLE {name} ({col_ddl}) USING {fmt}{part_ddl} "
                f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
                f"INTO {d['buckets']} BUCKETS LOCATION '{d['location']}'"
            )
            if d["parts"]:
                tenv.spark.sql(f"MSCK REPAIR TABLE {name}")
        _DISTRIBUTED[name] = {
            "kind": d["kind"],
            "cols": list(d["cols"]),
            "buckets": d["buckets"],
            "opts": dict(d["opts"]),
            "cols_types": [tuple(c) for c in d["cols_types"]],
            "parts": list(d["parts"]),
        }
        n += 1
    return n
