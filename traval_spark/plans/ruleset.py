"""RuleSet: the driver-side logical plan + its Spark compiler.

The reference's RuleSet (/root/reference/traval/ruleset.py:86-543) is an
ordered name->rule dict executed eagerly, one pandas series at a time. Here
the RuleSet *is* a query plan: :func:`apply_ruleset` compiles the ordered
rules into ONE lazy wide DataFrame with columns

    series_id, ts, step_0 .. step_n, r1_code/r1_sval/r1_cval, r2_corr, ...

so Catalyst sees the whole pipeline at once: projections collapse, all
same-spec windows share a single exchange+sort on series_id, aux tables
broadcast, and nothing materializes until an action. Branching DAGs
(``apply_to`` pointing at any earlier step) are free because every step is
just a column (SURVEY.md §3.1 redesign).

Step contract, mirroring /root/reference/traval/ruleset.py:305-367:

- code rule      -> step_i = step_in where code==0 else NULL
- series rule    -> step_i = step_in + corr (NULL propagates)
- direct/combine -> step_i = rule result (apply_to is a tuple of steps)

JSON serde is format-compatible with the reference
(/root/reference/traval/ruleset.py:392-517): functions serialized as
``func:<name>`` and looked up in our rule registry on load, numpy ufuncs as
``("func:greater",)`` tuples, scalar kwargs verbatim, series kwargs as
``series:<pandas-split-json>``.
"""

from __future__ import annotations

import json
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from traval_spark.functions.ts import SID, TS, ensure_ntz
from traval_spark.operators import rules as rulelib
from traval_spark.operators.rules import CODE, DIRECT, RULES, SERIES


@dataclass
class ParamRef:
    """Per-series parameter reference, resolved from a params table.

    Replaces the reference's callable kwargs (functions of the series name,
    /root/reference/traval/ruleset.py:276-303): a ParamRef becomes a Column
    read from a broadcast (series_id, rulename, parameter, value) table, so
    per-series parameters scale to millions of series with no driver loop.
    """

    rulename: str
    parameter: str


class SparkRuleSet:
    """Ordered, named detection-rule plan (reference ruleset.py:86-241)."""

    def __init__(self, name: str | None = None):
        self.rules: OrderedDict[str, dict] = OrderedDict()
        self.name = name if name is not None else ""

    # -- plan mutation (ruleset.py:167-241) --------------------------------

    def add_rule(self, name, func, apply_to=None, kwargs=None):
        """Append a rule. ``func`` is a registry name or registered callable."""
        self.rules[name] = {
            "name": name,
            "func": self._func_name(func),
            "apply_to": apply_to,
            "kwargs": kwargs,
        }

    def update_rule(self, name, func, apply_to=None, kwargs=None):
        if name not in self.rules:
            raise KeyError("No rule by that name in RuleSet!")
        self.rules[name] = {
            "name": name,
            "func": self._func_name(func),
            "apply_to": apply_to,
            "kwargs": kwargs,
        }

    def del_rule(self, name):
        self.rules.pop(name)

    def get_rule(self, istep=None, stepname=None):
        if istep is not None:
            return self.rules[self.get_step_name(istep)]
        if stepname is not None:
            return self.rules[stepname]
        raise ValueError("Provide one of 'istep' or 'stepname'!")

    def get_func(self, istep=None, stepname=None):
        """Rule callable of a step (reference ruleset.py:379-381).

        The reference stores the function object itself; this plan stores
        the registry NAME (JSON-stable) — resolve it back to the registered
        callable so ported call-sites can invoke it directly.
        """
        return RULES[self.get_rule(istep=istep, stepname=stepname)["func"]][0]

    def get_applyto(self, istep=None, stepname=None):
        """apply_to of a step (reference ruleset.py:383-385)."""
        return self.get_rule(istep=istep, stepname=stepname)["apply_to"]

    def get_kwargs(self, istep=None, stepname=None, kwarg_name=None,
                   params=None):
        """Parsed kwargs of a step (reference ruleset.py:387-390).

        ``kwarg_name`` plays the reference's per-series resolution name
        (callable kwargs are called with it); ``params`` optionally passes
        a :class:`~traval_spark.plans.params.TravalParameters` so ParamRef
        kwargs — this plan's replacement for callable kwargs — resolve to
        their per-location value the same way.
        """
        return self._parse_kwargs(
            self.get_rule(istep=istep, stepname=stepname)["kwargs"],
            name=kwarg_name, params=params,
        )

    def get_parameters(self, name=None, params=None) -> pd.DataFrame:
        """All rule parameters as a pandas frame with the reference's
        columns [rulename, step, func, parameter, value]
        (reference ruleset.py:256-275; 'step' carries apply_to, 'func' the
        registry name). ``name``/``params`` resolve callable / ParamRef
        kwargs per location as in :meth:`get_kwargs`; unresolvable
        ParamRefs appear verbatim.
        """
        cols = ["rulename", "step", "func", "parameter", "value"]
        rows = []
        for rnam, irule in self.rules.items():
            if irule["kwargs"] is None:
                continue
            for parameter, value in irule["kwargs"].items():
                # reference ruleset.py:264 guard: callables resolve ONLY
                # when a name is given, else they appear verbatim (unlike
                # _parse_kwargs, which always calls — ruleset.py:277-303)
                if isinstance(value, ParamRef):
                    if params is not None:
                        value = params.get(value.rulename, value.parameter,
                                           location=name)
                elif callable(value) and name is not None:
                    value = value(name)
                rows.append((rnam, irule["apply_to"], irule["func"],
                             parameter, value))
        pdf = pd.DataFrame(rows, columns=cols)
        pdf.index.name = None
        return pdf

    @staticmethod
    def _parse_kwargs(kwargs, name=None, params=None):
        """Resolve kwargs for one step (reference ruleset.py:277-303):
        callable values are called with ``name``; ParamRef values resolve
        through ``params`` (TravalParameters) when given, else pass
        through unchanged."""
        new_args = {}
        if kwargs is not None:
            for k, v in kwargs.items():
                if isinstance(v, ParamRef):
                    if params is not None:
                        new_args[k] = params.get(v.rulename, v.parameter,
                                                 location=name)
                    else:
                        new_args[k] = v
                elif callable(v):
                    new_args[k] = v(name)
                else:
                    new_args[k] = v
        return new_args

    def get_step_name(self, istep: int) -> str:
        """Step number -> rule name; 0 = base series; negative counts from end
        (reference ruleset.py:233-241)."""
        if istep == 0:
            return "base series"
        names = list(self.rules.keys())
        return names[istep - 1] if istep > 0 else names[istep]

    @staticmethod
    def _func_name(func) -> str:
        if isinstance(func, str):
            return func
        name = func.__name__
        if name not in RULES:
            raise KeyError(
                f"Rule '{name}' is not registered; register custom rules in "
                "traval_spark.operators.rules.RULES first."
            )
        return name

    def __len__(self):
        return len(self.rules)

    def __repr__(self):
        rows = [f"RuleSet: '{self.name}'", "  step: name            apply_to"]
        for i, (nm, r) in enumerate(self.rules.items(), 1):
            rows.append(f"  {i:>4}: {nm[:15]:<15} {str(r['apply_to']):>8}")
        return "\n".join(rows)

    def to_dataframe(self) -> pd.DataFrame:
        """Plan overview as a pandas DataFrame (ruleset.py:243-254)."""
        rdf = pd.DataFrame(list(self.rules.values()),
                           index=range(1, len(self.rules) + 1))
        rdf.index.name = "step"
        return rdf

    # -- serde (format-compatible with reference ruleset.py:392-517) -------

    def to_json(self, fname: str | None = None) -> str | None:
        rules = {}
        for nm, r in self.rules.items():
            kwargs = None
            if r["kwargs"] is not None:
                kwargs = {k: _encode_kwarg(k, v) for k, v in r["kwargs"].items()}
            rules[nm] = {
                "name": nm,
                "func": "func:" + r["func"],
                "apply_to": list(r["apply_to"]) if isinstance(r["apply_to"], tuple)
                else r["apply_to"],
                "kwargs": kwargs,
            }
        rules["name"] = self.name
        payload = json.dumps(rules, indent=4)
        if fname is not None:
            if not fname.endswith(".json"):
                raise ValueError("Filename requires '.json' as extension!")
            with open(fname, "w") as f:
                f.write(payload)
            return None
        return payload

    def to_pickle(self, fname: str) -> None:
        """Pickle the plan (reference ruleset.py:392-415; unlike JSON this
        keeps non-registry python objects in kwargs intact)."""
        import pickle

        payload = {"name": self.name, "rules": self.rules}
        with open(fname, "wb") as f:
            pickle.dump(payload, f)

    @classmethod
    def from_pickle(cls, fname: str) -> "SparkRuleSet":
        import pickle

        with open(fname, "rb") as f:
            payload = pickle.load(f)
        rs = cls(name=payload["name"])
        rs.rules.update(payload["rules"])
        return rs

    @classmethod
    def from_json(cls, fname_or_str: str) -> "SparkRuleSet":
        if fname_or_str.lstrip().startswith("{"):
            data = json.loads(fname_or_str)
        else:
            with open(fname_or_str) as f:
                data = json.load(f)
        name = data.pop("name")
        rset = cls(name=name)
        for k, v in data.items():
            kwargs = v.get("kwargs")
            if kwargs is not None:
                kwargs = {kk: _decode_kwarg(kk, vv) for kk, vv in kwargs.items()}
            apply_to = v["apply_to"]
            if isinstance(apply_to, list):
                apply_to = tuple(apply_to)
            func = v["func"]
            if isinstance(func, str) and func.startswith("func:"):
                func = func[5:]
            rset.add_rule(k, func, apply_to=apply_to, kwargs=kwargs)
        return rset


def _encode_kwarg(key: str, v: Any):
    if key == "ufunc":
        # numpy-ufunc tuple encoding (reference ruleset.py:49-59)
        name = v[0] if isinstance(v, (tuple, list)) else v
        name = name if isinstance(name, str) else name.__name__
        return ["func:" + name]
    if isinstance(v, ParamRef):
        return f"paramref:{v.rulename}:{v.parameter}"
    if isinstance(v, pd.Series):
        return "series:" + v.to_json(date_format="iso", orient="split")
    if isinstance(v, DataFrame):
        raise TypeError(
            "Spark DataFrame kwargs are not JSON-serializable; pass small aux "
            "series as pandas Series instead."
        )
    if callable(v):
        return "func:" + v.__name__
    return v


def _decode_kwarg(key: str, v: Any):
    if key == "ufunc":
        name = v[0] if isinstance(v, (tuple, list)) else v
        if isinstance(name, str) and name.startswith("func:"):
            name = name[5:]
        return (name,)
    if isinstance(v, str) and v.startswith("paramref:"):
        _, rule, param = v.split(":", 2)
        return ParamRef(rule, param)
    if isinstance(v, str) and v.startswith("series:"):
        s = pd.read_json(__import__("io").StringIO(v[7:]), typ="series",
                         orient="split")
        if isinstance(s.index, pd.DatetimeIndex):
            s.index = s.index.tz_localize(None)
        return s
    return v


# ---------------------------------------------------------------------------
# compiler / executor
# ---------------------------------------------------------------------------


def _pandas_series_to_aux(
    spark: SparkSession, s: pd.Series, series_ids: DataFrame
) -> DataFrame:
    """Broadcast a small driver-side pandas aux series to every series_id.

    The reference applies one aux series to the single series at hand; in
    the long model the aux must carry a series_id — cross-joining the tiny
    aux with the distinct-id dimension keeps per-series semantics.
    """
    pdf = pd.DataFrame({TS: pd.DatetimeIndex(s.index), "value": s.to_numpy()})
    aux = spark.createDataFrame(pdf)
    return F.broadcast(series_ids).crossJoin(F.broadcast(aux))


def apply_ruleset(
    df: DataFrame,
    ruleset: SparkRuleSet,
    params: DataFrame | None = None,
) -> DataFrame:
    """Compile + apply a RuleSet: returns the lazy wide step table.

    Parameters
    ----------
    df : DataFrame
        long frame (series_id, ts, value[, comment]); a flagged value is a
        present row with NULL value (SURVEY.md §1.4).
    params : DataFrame, optional
        per-series parameters (series_id, rulename, parameter, value) for
        ParamRef kwargs; broadcast-joined once.
    """
    spark = df.sparkSession
    df = ensure_ntz(df)
    wide = df.withColumn("step_0", F.col("value").cast("double"))

    # resolve ParamRefs -> broadcast-joined columns, once for all rules
    refs = [
        v
        for r in ruleset.rules.values()
        if r["kwargs"]
        for v in r["kwargs"].values()
        if isinstance(v, ParamRef)
    ]
    if refs:
        if params is None:
            raise ValueError("RuleSet uses ParamRef kwargs but no params table given")
        for ref in refs:
            colname = f"__param_{ref.rulename}_{ref.parameter}"
            sub = (
                params.filter(
                    (F.col("rulename") == ref.rulename)
                    & (F.col("parameter") == ref.parameter)
                )
                .select(SID, F.col("value").cast("double").alias(colname))
            )
            wide = wide.join(F.broadcast(sub), on=SID, how="left")

    series_ids = None

    for i, rule in enumerate(ruleset.rules.values(), start=1):
        fn, kind = RULES[rule["func"]]
        out = f"r{i}"
        kwargs = dict(rule["kwargs"] or {})

        # kwarg resolution: ParamRef -> Column; pandas Series -> aux frame
        for k, v in list(kwargs.items()):
            if isinstance(v, ParamRef):
                kwargs[k] = F.col(f"__param_{v.rulename}_{v.parameter}")
            elif isinstance(v, pd.Series):
                if series_ids is None:
                    series_ids = df.select(SID).distinct()
                kwargs[k] = _pandas_series_to_aux(spark, v, series_ids)

        apply_to = rule["apply_to"]
        if apply_to is None:
            apply_to = 0

        if isinstance(apply_to, tuple):
            # combine rule: inputs are earlier steps (or their codes)
            if "corrections" in rule["func"]:
                in_cols = [f"r{n}_code" for n in apply_to]
            else:
                in_cols = [f"step_{n}" for n in apply_to]
            wide = fn(wide, in_cols, out, **kwargs)
            wide = wide.withColumn(
                f"step_{i}", F.col(f"{out}_res").cast("double")
            )
        elif isinstance(apply_to, int):
            in_col = f"step_{apply_to}"
            wide = fn(wide, in_col, out, **kwargs)
            if kind == CODE:
                wide = wide.withColumn(
                    f"step_{i}",
                    F.when(
                        F.coalesce(F.col(f"{out}_code"), F.lit(0)) == 0,
                        F.col(in_col),
                    ),
                )
            elif kind == SERIES:
                wide = wide.withColumn(
                    f"step_{i}", F.col(in_col) + F.col(f"{out}_corr")
                )
            else:
                raise TypeError(
                    f"Rule kind '{kind}' needs tuple apply_to (combine rule)"
                )
        else:
            raise TypeError(
                f"'apply_to' must be int or tuple of ints, got {apply_to!r}"
            )

    return wide


def register_rule(name: str, fn: Callable, kind: str = CODE) -> None:
    """Register a custom rule implementation into the plan registry."""
    RULES[name] = (fn, kind)
