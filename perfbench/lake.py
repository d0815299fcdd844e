"""Seeded inputs for the `lake` workload and DuckDB's version of its two
ingest tasks.

Task A reads a CSV shaped like brasil.io's `caso_full.csv`; Task B reads a
JSON array shaped like the IBGE `municipios` API payload, whose ids are the
CSV's `city_ibge_code`s. The generator plants known counts, so the loaded
tables can be checked against exact numbers as well as against DuckDB:

- state rows (empty `city`, two-digit `city_ibge_code`) and
  "Importados/Indefinidos" rows (empty `city_ibge_code`), which the key
  filter must drop;
- quoted-blank, single-space and empty (NULL) cells in the per-100k rate
  column of kept rows, which the fill must turn into 0.0. Every other rate
  is positive, so the loaded table holds exactly that many zeros.
"""
import json
import os
import random

CSV_ROWS = 30_000
MUNICIPALITIES = 5570
RATE = "last_available_confirmed_per_100k_inhabitants"
CSV_COLUMNS = [
    "city", "city_ibge_code", "date", "epidemiological_week", "estimated_population",
    "estimated_population_2019", "is_last", "is_repeated", "last_available_confirmed",
    RATE, "last_available_date", "last_available_death_rate", "last_available_deaths",
    "order_for_place", "place_type", "state", "new_confirmed", "new_deaths",
]
REGIONS = {1: ("N", "Norte"), 2: ("NE", "Nordeste"), 3: ("SE", "Sudeste"),
           4: ("S", "Sul"), 5: ("CO", "Centro-Oeste")}
UFS = [(11, "RO", "Rondônia"), (12, "AC", "Acre"), (13, "AM", "Amazonas"),
       (14, "RR", "Roraima"), (15, "PA", "Pará"), (16, "AP", "Amapá"),
       (17, "TO", "Tocantins"), (21, "MA", "Maranhão"), (22, "PI", "Piauí"),
       (23, "CE", "Ceará"), (24, "RN", "Rio Grande do Norte"), (25, "PB", "Paraíba"),
       (26, "PE", "Pernambuco"), (27, "AL", "Alagoas"), (28, "SE", "Sergipe"),
       (29, "BA", "Bahia"), (31, "MG", "Minas Gerais"), (32, "ES", "Espírito Santo"),
       (33, "RJ", "Rio de Janeiro"), (35, "SP", "São Paulo"), (41, "PR", "Paraná"),
       (42, "SC", "Santa Catarina"), (43, "RS", "Rio Grande do Sul"),
       (50, "MS", "Mato Grosso do Sul"), (51, "MT", "Mato Grosso"), (52, "GO", "Goiás"),
       (53, "DF", "Distrito Federal")]
WORDS = ["São", "Santa", "Água", "Boa", "Vista", "Nova", "Alta", "Serra", "Rio", "Lagoa",
         "Campo", "Porto", "Barra", "Monte", "Pedra", "Grande", "Verde", "Bonito",
         "Floresta", "Palmeira", "Cruz", "Ouro", "Branco", "Jardim", "Itá", "Guará"]


def _municipalities(rng):
    out = []
    for i in range(MUNICIPALITIES):
        uf_id, sigla, uf_name = UFS[i % len(UFS)]
        region_id = uf_id // 10
        uf = {"id": uf_id, "sigla": sigla, "nome": uf_name,
              "regiao": {"id": region_id, "sigla": REGIONS[region_id][0],
                         "nome": REGIONS[region_id][1]}}
        meso = i // len(UFS) % 5 + 1
        micro = i // len(UFS) % 13 + 1
        muni_id = uf_id * 100000 + (i // len(UFS)) * 10 + rng.randrange(10)
        name = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3))) + f" {i}"
        out.append({
            "id": muni_id, "nome": name,
            "microrregiao": {"id": uf_id * 1000 + micro, "nome": f"Micro {sigla} {micro}",
                             "mesorregiao": {"id": uf_id * 100 + meso,
                                             "nome": f"Meso {sigla} {meso}", "UF": uf}},
            "regiao-imediata": {"id": uf_id * 10000 + micro, "nome": f"Imediata {sigla} {micro}",
                                "regiao-intermediaria": {"id": uf_id * 100 + meso,
                                                         "nome": f"Intermediária {sigla} {meso}",
                                                         "UF": uf}},
        })
    return out


def generate(seed, out_dir):
    """Writes caso_full.csv and municipios.json into out_dir and returns
    their paths and the counts planted in them."""
    paths = {"csv": os.path.join(out_dir, "caso_full.csv"),
             "json": os.path.join(out_dir, "municipios.json")}
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    munis = _municipalities(rng)
    n_state = 150 + rng.randrange(150)
    n_unknown = 100 + rng.randrange(100)
    n_blank, n_space, n_null = (50 + rng.randrange(50) for _ in range(3))
    kinds = (["state"] * n_state + ["unknown"] * n_unknown
             + ["city"] * (CSV_ROWS - n_state - n_unknown))
    rng.shuffle(kinds)
    kept = [i for i, k in enumerate(kinds) if k != "state" and k != "unknown"]
    planted = rng.sample(kept, n_blank + n_space + n_null)
    rate_cell = {}
    for j, i in enumerate(planted):
        rate_cell[i] = '""' if j < n_blank else (" " if j < n_blank + n_space else "")
    lines = [",".join(CSV_COLUMNS)]
    for i, kind in enumerate(kinds):
        m = rng.choice(munis)
        uf_id, sigla = m["microrregiao"]["mesorregiao"]["UF"]["id"], \
            m["microrregiao"]["mesorregiao"]["UF"]["sigla"]
        if kind == "state":
            city, code, place = "", str(uf_id), "state"
        elif kind == "unknown":
            city, code, place = "Importados/Indefinidos", "", "city"
        else:
            city, code, place = m["nome"], str(m["id"]), "city"
        day = rng.randrange(730)
        y, doy = (2020, day) if day < 366 else (2021, day - 366)
        month, dom = _month_day(y, doy)
        date = f"{y}-{month:02d}-{dom:02d}"
        pop = rng.randint(800, 12_000_000)
        confirmed = rng.randint(0, pop // 10)
        deaths = rng.randint(0, confirmed // 20 + 1)
        rate = rate_cell.get(i, f"{rng.uniform(0.01, 30000):.5f}")
        lines.append(",".join([
            city, code, date, f"{y}{doy // 7 + 1:02d}", str(pop), str(pop - rng.randint(0, 500)),
            rng.choice(["True", "False"]), rng.choice(["True", "False"]), str(confirmed), rate,
            date, f"{deaths / max(confirmed, 1):.4f}", str(deaths), str(rng.randint(1, 700)),
            place, sigla, str(rng.randint(-5, 900)), str(rng.randint(-1, 40)),
        ]))
    with open(paths["csv"], "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(paths["json"], "w", encoding="utf-8") as fh:
        json.dump(munis, fh, ensure_ascii=False, indent=1)
    expected = {
        "covid_rows_loaded": CSV_ROWS - n_state - n_unknown,
        "covid_null_keys": 0,
        "covid_zero_rates": n_blank + n_space + n_null,
        "municipios_rows": MUNICIPALITIES,
        "input_bytes": os.path.getsize(paths["csv"]) + os.path.getsize(paths["json"]),
    }
    return {**paths, "expected": expected}


def _month_day(year, doy):
    days = [31, 29 if year % 4 == 0 else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]
    for month, n in enumerate(days, 1):
        if doy < n:
            return month, doy + 1
        doy -= n
    raise ValueError(doy)


def covid_reference(con, csv_path):
    """DuckDB's Task A: key-null drop and blank/NULL rate fill, without the
    batch stamp (checked separately)."""
    con.sql(f"CREATE OR REPLACE VIEW caso_raw AS SELECT * FROM "
            f"read_csv('{csv_path}', header = true, all_varchar = false)")
    rate = f'"{RATE}"'
    return con.sql(
        f"SELECT * REPLACE (CASE WHEN {rate} IS NULL OR trim(CAST({rate} AS VARCHAR)) = '' "
        f"THEN 0.0 ELSE CAST({rate} AS DOUBLE) END AS {rate}) FROM caso_raw "
        f"WHERE city IS NOT NULL AND city_ibge_code IS NOT NULL").df()


def municipios_reference(con, json_path):
    """DuckDB's Task B: the nested payload flattened to dot-named columns."""
    with open(json_path, encoding="utf-8") as fh:
        first = json.load(fh)[0]
    def leaves(obj, path):
        for k, v in obj.items():
            if isinstance(v, dict):
                yield from leaves(v, path + [k])
            else:
                yield path + [k]
    cols = ", ".join(".".join(f'"{p}"' for p in path) + f' AS "{".".join(path)}"'
                     for path in leaves(first, []))
    return con.sql(f"SELECT {cols} FROM read_json('{json_path}', format = 'array')").df()
