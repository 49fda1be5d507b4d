import gen_reports


def test_generator_is_seeded():
    a = gen_reports.gen_drops(7, 60)
    b = gen_reports.gen_drops(7, 60)
    c = gen_reports.gen_drops(8, 60)
    assert [d.data for d in a] == [d.data for d in b]
    assert [d.data for d in a] != [d.data for d in c]


def test_noise_classes_present():
    drops = {d.kind: d for d in gen_reports.gen_drops(3, 400)}
    sale = drops["sale"].data
    try:
        sale.decode("utf-8")
        raise AssertionError("the Sale report must not be valid UTF-8")
    except UnicodeDecodeError:
        sale.decode("iso-8859-1")
    amazon = drops["amazon"].data.decode()
    assert '"$' in amazon and "(" in amazon  # quoted $1,234.56 and (123.45)
    assert any(f",{t}," in amazon for t in ("NA", "n/a", "NULL", "Null"))
    header = ",".join(gen_reports.INTL_PART2_HEADER)
    assert header in drops["international"].data.decode()
    assert header not in drops["international_noheader"].data.decode()
    assert drops["amazon"].expected["amazon_sale_version"] > 0


def test_predicted_counts_match_run_batch(spark, tmp_path):
    """The generator's pure-Python prediction equals what the package's
    batch job produces, table by table, for every drop kind."""
    from kaggle_ecommerce_etl_spark.pipelines.job import run_batch

    for d in gen_reports.gen_drops(11, 300):
        raw = tmp_path / d.kind
        raw.mkdir()
        (raw / d.name).write_bytes(d.data)
        errors = {}
        got = {t: df.count() for t, df in run_batch(spark, str(raw), errors=errors).items()}
        assert errors == {}
        assert got == d.expected, d.kind
