"""Catalog layer: Iceberg REST catalog client (ATTACH analogue) and the
commit protocol REST and filesystem tables share (``commit.py``).

Names resolve lazily (PEP 562), as in the top-level package: the write
path imports ``commit`` without loading the REST client's HTTP stack."""

import importlib

# public name -> submodule that defines it
_EXPORTS = {
    "CatalogError": "commit",
    "CommitConflict": "commit",
    "FileTable": "commit",
    "resolve_table": "commit",
    "OAuth2Config": "rest_catalog",
    "RestCatalog": "rest_catalog",
    "RestCatalogConfig": "rest_catalog",
    "RestTable": "rest_catalog",
    "SigV4Config": "sigv4",
    "sign_request": "sigv4",
    "plan_table_scan": "scan_planning",
    "predicate_to_rest": "scan_planning",
    "scan_rest_table": "scan_planning",
}


def __getattr__(name: str):
    try:
        module = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}") from None
    value = getattr(importlib.import_module(f".{module}", __name__), name)
    globals()[name] = value
    return value


__all__ = sorted(_EXPORTS)
