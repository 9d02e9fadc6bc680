"""get_spark's session settings (news_crawler_spark/session.py)."""


def test_dataframe_call_site_capture_is_off(spark):
    """Each F.* call would otherwise pay four py4j round trips and a
    stack walk for an error-message call-site."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
