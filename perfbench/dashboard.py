"""The dashboard op mix: A6/A7/A8 charts, the charts under the four
dashboard filters (years, Tipo, Sede, Area), and SQL over the ``vista_*``
views, each paired with a pandas evaluation of the same op over the
vista collected once in set-up."""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

import pandas as pd

from ups_crossref_etl_spark.plans import analytics


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # per_year | per_country | per_area | filtered | sql
    spark: Callable  # (engine, vista DataFrame) -> DataFrame
    pandas: Callable  # (vista pandas) -> list of row tuples


def rows(df) -> list[tuple]:
    """Canonical result: tuples of plain Python values, sorted."""
    def cell(v):
        v = v.item() if hasattr(v, "item") else v
        if isinstance(v, float):
            return None if v != v else int(v) if v.is_integer() else v
        return v

    out = [tuple(cell(v) for v in r) for r in df]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def _explode(p: pd.DataFrame, col: str, keep=("DOI", "Anio", "Tipo")) -> pd.DataFrame:
    e = p[list(keep)].assign(valor=p[col].str.split("; ")).explode("valor")
    return e[e["valor"].notna() & (e["valor"] != "")]


def _count(p: pd.DataFrame, by: str) -> list[tuple]:
    return rows(p.groupby(by).size().reset_index().itertuples(index=False))


def _filter(p: pd.DataFrame, year_from=None, year_to=None, tipo=None, sede=None, area=None):
    m = pd.Series(True, index=p.index)
    if year_from is not None:
        m &= p["Anio"].notna() & (p["Anio"] >= year_from)
    if year_to is not None:
        m &= p["Anio"].notna() & (p["Anio"] <= year_to)
    if tipo is not None:
        m &= p["Tipo"] == tipo
    if sede is not None:
        m &= p["Sedes"].map(lambda s: sede in s.split("; ") if isinstance(s, str) else False)
    if area is not None:
        m &= p["Areas"].map(lambda s: area in s.split("; ") if isinstance(s, str) else False)
    return p[m]


def _per_year(p):
    return _count(p[p["Anio"].notna()].astype({"Anio": int}), "Anio")


def _per_country(p):
    e = _explode(p, "PaisesCodigo")
    return _count(e[e["valor"] != "EC"], "valor")


def _per_area(p):
    return _count(_explode(p, "Areas"), "valor")


def make_ops(pv: pd.DataFrame, seed: int) -> list[Op]:
    """The op mix; filter values are drawn with ``seed`` from values
    present in the vista, so every op has a defined answer."""
    rng = random.Random(seed)
    years = sorted(int(y) for y in pv["Anio"].dropna().unique())
    y0 = rng.choice(years[: max(1, len(years) // 2)])
    y1 = rng.choice([y for y in years if y >= y0])
    tipo = rng.choice(sorted(pv["Tipo"].dropna().unique()))
    sedes = sorted({s for v in pv["Sedes"].dropna() for s in v.split("; ") if s})
    areas = sorted({s for v in pv["Areas"].dropna() for s in v.split("; ") if s})
    sede, area = rng.choice(sedes), rng.choice(areas)
    f = analytics.apply_dashboard_filters
    years_kw = {"year_from": y0, "year_to": y1}
    all_kw = {**years_kw, "tipo": tipo, "sede": sede, "area": area}

    def sql(q):
        return lambda eng, v: eng.sql(q)

    return [
        Op("a6_per_year", "per_year", lambda eng, v: analytics.publications_per_year(v),
           _per_year),
        Op("a7_per_country", "per_country",
           lambda eng, v: analytics.publications_per_country(v), _per_country),
        Op("a8_per_area", "per_area", lambda eng, v: analytics.publications_per_area(v),
           _per_area),
        Op("a6_years", "filtered",
           lambda eng, v: analytics.publications_per_year(f(v, **years_kw)),
           lambda p: _per_year(_filter(p, **years_kw))),
        Op("a7_tipo", "filtered",
           lambda eng, v: analytics.publications_per_country(f(v, tipo=tipo)),
           lambda p: _per_country(_filter(p, tipo=tipo))),
        Op("a8_sede", "filtered",
           lambda eng, v: analytics.publications_per_area(f(v, sede=sede)),
           lambda p: _per_area(_filter(p, sede=sede))),
        Op("a6_area", "filtered",
           lambda eng, v: analytics.publications_per_year(f(v, area=area)),
           lambda p: _per_year(_filter(p, area=area))),
        Op("a7_all_filters", "filtered",
           lambda eng, v: analytics.publications_per_country(f(v, **all_kw)),
           lambda p: _per_country(_filter(p, **all_kw))),
        Op("works_years_sede", "filtered",
           lambda eng, v: f(v, sede=sede, **years_kw).select("DOI", "Titulo", "Citas"),
           lambda p: rows(_filter(p, sede=sede, **years_kw)[["DOI", "Titulo", "Citas"]]
                          .itertuples(index=False))),
        Op("sql_paises", "sql",
           sql("SELECT valor, count(*) AS n FROM vista_paises "
               "WHERE valor <> 'EC' GROUP BY valor"),
           lambda p: (lambda e: _count(e[e["valor"] != "EC"], "valor"))(
               _explode(p, "PaisesCodigo"))),
        Op("sql_areas_years", "sql",
           sql(f"SELECT valor, count(DISTINCT DOI) AS n FROM vista_areas "
               f"WHERE Anio BETWEEN {y0} AND {y1} GROUP BY valor"),
           lambda p: (lambda e: rows(
               e[e["Anio"].between(y0, y1)].groupby("valor")["DOI"].nunique()
               .reset_index().itertuples(index=False)))(_explode(p, "Areas"))),
        Op("sql_top_authors", "sql",
           sql("SELECT valor, count(*) AS n FROM vista_autores GROUP BY valor "
               "ORDER BY n DESC, valor LIMIT 10"),
           lambda p: rows(
               _explode(p, "Autores").groupby("valor").size().reset_index(name="n")
               .sort_values(["n", "valor"], ascending=[False, True]).head(10)
               .itertuples(index=False))),
        Op("sql_tipo_anio", "sql",
           sql("SELECT Tipo, Anio, count(*) AS n, sum(Citas) AS citas "
               "FROM vista_analisis GROUP BY Tipo, Anio"),
           lambda p: rows(
               p.assign(Anio=p["Anio"].astype("object").where(p["Anio"].notna(), None),
                        Tipo=p["Tipo"].astype("object").where(p["Tipo"].notna(), None))
               .groupby(["Tipo", "Anio"], dropna=False)
               .agg(n=("DOI", "size"), citas=("Citas", "sum"))
               .reset_index().itertuples(index=False))),
        Op("sql_sedes_tipo", "sql",
           sql(f"SELECT valor, count(*) AS n FROM vista_sedes "
               f"WHERE Tipo = '{tipo}' GROUP BY valor"),
           lambda p: (lambda e: _count(e[e["Tipo"] == tipo], "valor"))(
               _explode(p, "Sedes"))),
    ]
