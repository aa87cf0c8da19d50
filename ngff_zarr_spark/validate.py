"""OME-NGFF metadata validation (C7): structural + full JSON Schema.

Two layers, matching the reference's surface
(/root/reference py/ngff_zarr/validate.py:32-52):

* **Structural checks** (always available): the schema REQUIREMENTS for
  the three models the reference validates (image / plate / well),
  encoded directly over the raw attribute dicts — same inputs (store
  attrs), same failure surface (a list of problems, raise on request).
* **Full JSON-Schema validation** (:func:`validate_schema`): Draft
  2020-12 validation against the vendored public OME-NGFF spec schemas
  (``ngff_zarr_spark/spec/{0.1..0.5}/schemas/*.schema`` — see
  spec/README.md for provenance), gated behind an import-try on
  ``jsonschema``; cross-schema ``$ref``\\ s (0.5's ``_version``) resolve
  through a registry holding every vendored schema by its ``$id``.

Both layers are driver-side only — validation is metadata work over
collected attrs (a few KB), never a distributed op.

Versions: 0.4 attrs carry the model at the top level ('multiscales' /
'plate' / 'well'); 0.5 nests it under 'ome' with a top-level version
(RFC 2). Both accepted, like the reference's readers.
"""

from __future__ import annotations

import functools
import json
from pathlib import Path

from .model import is_dimension_supported, is_unit_supported
from .rfc4 import validate_axis_orientation

AXIS_TYPES = {"time", "space", "channel"}


def _unwrap(attrs: dict, key: str):
    """Find model payload in 0.4 (top-level) or 0.5 ('ome'-nested) layout."""
    if isinstance(attrs.get("ome"), dict) and key in attrs["ome"]:
        return attrs["ome"][key]
    return attrs.get(key)


def _image_version(attrs: dict, ms: dict) -> str:
    if isinstance(attrs.get("ome"), dict):
        return str(attrs["ome"].get("version", "0.5"))
    return str(ms.get("version") or "0.4")


def _validate_image(attrs: dict) -> list[str]:
    """Version-aware structural validation (reference validates against
    per-version jsonschema, from_ngff_zarr.py:38-307 reads all of
    0.1-0.5):

    - 0.1/0.2 — NO axes field (arrays are implicitly 5-D t,c,z,y,x);
      datasets carry only paths, no coordinateTransformations.
    - 0.3     — axes are plain name strings; still no transforms.
    - 0.4/0.5 — axes are {name, type, unit} objects; every dataset
      needs coordinateTransformations starting with a scale.
    """
    problems: list[str] = []
    multiscales = _unwrap(attrs, "multiscales")
    if not isinstance(multiscales, list) or not multiscales:
        return ["missing or empty 'multiscales'"]
    for i, ms in enumerate(multiscales):
        where = f"multiscales[{i}]"
        version = _image_version(attrs, ms)
        old_axes_optional = version in ("0.1", "0.2")
        string_axes = version == "0.3"
        transforms_required = version not in ("0.1", "0.2", "0.3")

        axes = ms.get("axes")
        if axes is None and old_axes_optional:
            axes = []
            ndim = 5  # implicit t,c,z,y,x
        else:
            if not isinstance(axes, list) or not axes:
                problems.append(f"{where}: missing axes")
                axes = []
            elif not 2 <= len(axes) <= 5:
                problems.append(f"{where}: must have 2-5 axes, got {len(axes)}")
            ndim = len(axes)
        seen = set()
        for ax in axes:
            if isinstance(ax, str):
                if not string_axes:
                    problems.append(
                        f"{where}: version {version} axes must be objects, got string {ax!r}"
                    )
                name = ax
            elif not isinstance(ax, dict):
                # a validator's job is to REPORT malformed shapes, not
                # AttributeError on them
                problems.append(f"{where}: axis entry not an object: {ax!r}")
                continue
            else:
                if string_axes:
                    problems.append(f"{where}: version 0.3 axes are name strings")
                name = ax.get("name")
                if ax.get("type") is not None and ax["type"] not in AXIS_TYPES:
                    problems.append(f"{where}: axis {name!r} bad type {ax['type']!r}")
                if ax.get("unit") is not None and not is_unit_supported(ax["unit"]):
                    problems.append(f"{where}: axis {name!r} unsupported unit {ax['unit']!r}")
                problems.extend(validate_axis_orientation(ax))
            if not is_dimension_supported(name or ""):
                problems.append(f"{where}: unsupported axis name {name!r}")
            if name in seen:
                problems.append(f"{where}: duplicate axis {name!r}")
            seen.add(name)
        datasets = ms.get("datasets")
        if not isinstance(datasets, list) or not datasets:
            problems.append(f"{where}: missing datasets")
            datasets = []
        for ds in datasets:
            if not isinstance(ds, dict):
                problems.append(f"{where}: dataset entry not an object: {ds!r}")
                continue
            path = ds.get("path")
            if not isinstance(path, str) or not path:
                problems.append(f"{where}: dataset missing path")
            cts = ds.get("coordinateTransformations")
            if not isinstance(cts, list) or not cts:
                if transforms_required:
                    problems.append(
                        f"{where}: dataset {path!r} missing coordinateTransformations"
                    )
                continue
            if not isinstance(cts[0], dict) or cts[0].get("type") != "scale":
                problems.append(f"{where}: dataset {path!r} first transform must be scale")
            for ct in cts:
                if not isinstance(ct, dict):
                    problems.append(
                        f"{where}: dataset {path!r} transform not an object: {ct!r}"
                    )
                    continue
                t = ct.get("type")
                if t not in ("scale", "translation", "identity"):
                    problems.append(f"{where}: dataset {path!r} bad transform type {t!r}")
                    continue
                vals = ct.get(t) if t != "identity" else None
                if t != "identity":
                    if not isinstance(vals, list) or (ndim and len(vals) != ndim):
                        problems.append(
                            f"{where}: dataset {path!r} {t} length "
                            f"{len(vals) if isinstance(vals, list) else 'missing'} != ndim {ndim}"
                        )
    return problems


def _validate_plate(attrs: dict) -> list[str]:
    problems: list[str] = []
    plate = _unwrap(attrs, "plate")
    if not isinstance(plate, dict):
        return ["missing 'plate'"]
    rows = plate.get("rows")
    cols = plate.get("columns")
    wells = plate.get("wells")
    if not isinstance(rows, list) or not rows:
        problems.append("plate: missing rows")
        rows = []
    if not isinstance(cols, list) or not cols:
        problems.append("plate: missing columns")
        cols = []
    for grp, name in ((rows, "row"), (cols, "column")):
        for entry in grp:
            if not isinstance(entry, dict) or not isinstance(entry.get("name"), str):
                problems.append(f"plate: {name} entry missing name")
    if not isinstance(wells, list) or not wells:
        problems.append("plate: missing wells")
        wells = []
    # rowIndex/columnIndex joined the spec in 0.4; ≤0.3 wells carry only
    # path (spec/0.2/schemas/plate.schema requires just {path})
    version = str(plate.get("version") or "0.4")
    indices_required = version not in ("0.1", "0.2", "0.3")
    for w in wells:
        if not isinstance(w, dict):
            problems.append("plate: well entry not an object")
            continue
        path = w.get("path")
        ri, ci = w.get("rowIndex"), w.get("columnIndex")
        if not isinstance(path, str) or "/" not in path:
            problems.append(f"plate: well path {path!r} must be 'row/col'")
        if indices_required or ri is not None:
            if not isinstance(ri, int) or not 0 <= ri < max(1, len(rows)):
                problems.append(f"plate: well {path!r} rowIndex {ri!r} out of range")
        if indices_required or ci is not None:
            if not isinstance(ci, int) or not 0 <= ci < max(1, len(cols)):
                problems.append(f"plate: well {path!r} columnIndex {ci!r} out of range")
    for acq in plate.get("acquisitions") or []:
        if not isinstance(acq, dict) or not isinstance(acq.get("id"), int):
            problems.append("plate: acquisition missing integer id")
    return problems


def _validate_well(attrs: dict) -> list[str]:
    problems: list[str] = []
    well = _unwrap(attrs, "well")
    if not isinstance(well, dict):
        return ["missing 'well'"]
    images = well.get("images")
    if not isinstance(images, list) or not images:
        problems.append("well: missing images")
        images = []
    for img in images:
        if not isinstance(img, dict) or not isinstance(img.get("path"), str):
            problems.append("well: image entry missing path")
        elif img.get("acquisition") is not None and not isinstance(img["acquisition"], int):
            problems.append(f"well: image {img['path']!r} acquisition must be int")
    return problems


_MODELS = {"image": _validate_image, "plate": _validate_plate, "well": _validate_well}


def validate(attrs: dict, model: str = "image", strict: bool = False) -> list[str]:
    """Validate store attributes against the named model's structural
    requirements. Returns the problem list; with ``strict`` raises
    ValueError on the first batch of problems (the reference's behavior
    when validate=True)."""
    if model not in _MODELS:
        raise ValueError(f"Unknown validation model {model!r}; options {sorted(_MODELS)}")
    problems = _MODELS[model](attrs)
    if strict and problems:
        raise ValueError(f"Invalid OME-NGFF {model} metadata: {problems}")
    return problems


# ---------------------------------------------------------------------------
# Full JSON-Schema validation against the published OME-NGFF spec schemas

_SPEC_DIR = Path(__file__).parent / "spec"

_KNOWN_VERSIONS = ("0.1", "0.2", "0.3", "0.4", "0.5")


def sniff_store_attrs(attrs: dict) -> tuple[str, str]:
    """(spec_version, model) from raw root attrs — the ONE place that
    knows both layouts (0.5 'ome'-nested with a namespace version;
    ≤0.4 top-level with the version inside the model payload) and all
    three models' version locations. Unknown/missing versions clamp to
    the nearest validatable schema version ('0.5' for ome-nested,
    '0.4' otherwise), never raise."""
    ome = attrs.get("ome") if isinstance(attrs.get("ome"), dict) else None
    ns = ome if ome is not None else attrs
    if "plate" in ns:
        model = "plate"
    elif "well" in ns:
        model = "well"
    else:
        model = "image"
    if ome is not None:
        version = str(ome.get("version", "0.5"))
        fallback = "0.5"
    else:
        fallback = "0.4"
        if model == "image":
            mss = ns.get("multiscales")
            mss = mss if isinstance(mss, list) and mss else [{}]
            m0 = mss[0] if isinstance(mss[0], dict) else {}
            version = str(m0.get("version", fallback))
        else:
            payload = ns.get(model)
            payload = payload if isinstance(payload, dict) else {}
            version = str(payload.get("version", fallback))
    return (version if version in _KNOWN_VERSIONS else fallback), model


def load_schema(version: str = "0.4", model: str = "image", strict: bool = False) -> dict:
    """Load one vendored OME-NGFF spec schema as a dict (the reference's
    load_schema, validate.py:13-29: ``spec/{version}/schemas/
    [strict_]{model}.schema``). Raises FileNotFoundError for
    model/version combinations the spec never published (e.g. 0.1 has
    no label schema)."""
    name = f"{'strict_' if strict else ''}{model}.schema"
    path = _SPEC_DIR / version / "schemas" / name
    if not path.is_file():
        raise FileNotFoundError(
            f"no OME-NGFF {version} schema {name!r} (vendored: "
            f"{sorted(q.name for q in path.parent.glob('*.schema'))})"
        )
    return json.loads(path.read_text())


@functools.lru_cache(maxsize=1)
def _schema_registry():
    """Registry of every vendored schema keyed by its ``$id`` so
    cross-schema ``$ref``\\ s (0.5 image → ``_version.schema``) resolve
    offline. Built once per process; requires ``jsonschema`` +
    ``referencing``."""
    from referencing import Registry, Resource

    registry = Registry()
    for path in _SPEC_DIR.glob("*/schemas/*.schema"):
        contents = json.loads(path.read_text())
        resource = Resource.from_contents(
            contents, default_specification=_draft202012()
        )
        uri = contents.get("$id") or f"ngff-zarr-spark:{path.parent.parent.name}/{path.name}"
        registry = registry.with_resource(uri, resource)
    return registry


def _draft202012():
    from referencing.jsonschema import DRAFT202012

    return DRAFT202012


def validate_schema(
    attrs: dict,
    version: str = "0.4",
    model: str = "image",
    strict_schema: bool = False,
    raise_on_error: bool = False,
) -> list[str]:
    """Validate store attributes against the published OME-NGFF JSON
    Schema for (version, model) — the reference's ``validate()``
    (validate.py:32-52) re-expressed over the vendored spec files.

    Returns a list of problem strings ("<json-path>: <message>", sorted
    by path for determinism); empty means valid. ``strict_schema``
    selects the spec's ``strict_*`` variant where published. With
    ``raise_on_error`` raises ValueError on the first batch (the
    reference raises jsonschema.ValidationError on the first error;
    collecting all of them is strictly more informative).

    Requires ``jsonschema`` (ImportError otherwise — callers that want
    graceful degradation use :func:`validate_best_effort`).
    """
    from jsonschema import Draft202012Validator

    schema = load_schema(version=version, model=model, strict=strict_schema)
    validator = Draft202012Validator(schema, registry=_schema_registry())
    problems = sorted(
        f"{'/'.join(str(p) for p in e.absolute_path) or '$'}: {e.message}"
        for e in validator.iter_errors(attrs)
    )
    if raise_on_error and problems:
        raise ValueError(f"Invalid OME-NGFF {version} {model} metadata: {problems}")
    return problems


def validate_best_effort(
    attrs: dict, version: str = "0.4", model: str = "image"
) -> list[str]:
    """Structural checks plus (when ``jsonschema`` is importable) full
    spec-schema validation — the strongest validation available in the
    current environment, degrading exactly like the reference's
    optional ``[validate]`` extra."""
    problems = validate(attrs, model=model) if model in _MODELS else []
    try:
        problems += [
            p for p in validate_schema(attrs, version=version, model=model)
            if p not in problems
        ]
    except ImportError:
        pass
    return problems
